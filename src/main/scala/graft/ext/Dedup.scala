package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Caches.Registered
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB case:
  *
  *  - exact: hash-groupBy on a content digest — one shuffle keyed by the
  *    digest, uniform by construction (md5), no skew.
  *  - MinHash+LSH: per-doc signature is a pure projection (scales with
  *    the scan); candidate generation is a self-equi-join on (band,
  *    band_hash) buckets carrying ids only — the shuffle is |docs|×bands
  *    skinny rows, never |docs|² pairs. Oversized buckets (degenerate
  *    content) are capped to bound any single reducer.
  *  - SimHash: 60-bit signature via per-token bit voting, candidates via
  *    15-bit chunk collision (pigeonhole: any pair within Hamming
  *    distance 3 shares ≥1 of 4 chunks), verified with bit_count(xor).
  *  - n-gram Jaccard: exact, via inverted-index join; the similarity is
  *    computed from SHARED-SHINGLE COUNTS — `|A∩B| = count of posting
  *    collisions`, `J = shared/(|A|+|B|−shared)` — so document content
  *    is never re-shuffled for verification.
  *
  * Shingles are hashed to portable 60-bit longs immediately ([[pmd5]],
  * the first 15 hex digits of md5): all joins/aggregations move
  * fixed-width longs, not text, and an independent SQL engine can
  * replay every hash. Signature
  * frames are persisted (MEMORY_AND_DISK) because every self-join would
  * otherwise recompute the full signature projection on both sides;
  * they are small (|docs| × k longs). The cleanup contract is
  * CENTRALIZED IN THE CALLER, deliberately: the returned DataFrame is
  * lazy, so the operator cannot know when its caches are safe to drop —
  * an in-operator unpersist would fire before the caller's action and
  * silently re-derive the frame per consumer. Long-lived sessions
  * release operator-internal caches between corpora with
  * [[Caches.release]] (internal persists register there), or run the
  * blunter `spark.catalog.clearCache()` exactly as the `graft.Verify` /
  * `graft.Bench` / `graft.ScaleProbe` drivers do after every query
  * (this covers minhash, winnow, and cosine-LSH frames alike).
  */
object Dedup {
  import TextAnalysis.tokens

  // ---- exact dedup ------------------------------------------------------

  /** Exact dedup with survivor selection: one shuffle keyed by the
    * content digest (uniform by construction), survivor = the row
    * maximizing (`score`, then lowest id) within each duplicate group —
    * the keep-best-quality policy of training-data pipelines (vs d1's
    * keep-first). Emits every surviving row with its group size. */
  def dedupKeepBest(
      docs: DataFrame, idCol: String, textCol: String,
      score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = docs.select(
      col(idCol).as("doc_id"),
      md5(col(textCol).cast("binary")).as("content_hash"),
      score.as("score"))
    val w = Window.partitionBy("content_hash")
      .orderBy(col("score").desc, col("doc_id").asc)
    hashed
      .withColumn("rn", row_number().over(w))
      .withColumn("n_dups", count(lit(1)).over(
        Window.partitionBy("content_hash")))
      .where(col("rn") === 1)
      .select("doc_id", "content_hash", "score", "n_dups")
  }

  /** Connected components over a near-dup pair graph — the step that
    * turns pairwise matches into dedup GROUPS (cluster representative =
    * lowest doc id; downstream keeps one row per cluster).
    *
    * Adaptive, like a broadcast-join threshold: the edge count is known
    * anyway (the eager persist), so graphs at or under `localEdgeLimit`
    * edges run union-find on the driver — a few MB and sub-second where
    * the iterative plan pays seconds of fixed per-round job overhead.
    * Near-dup edge sets are tiny relative to the corpus (LSH emits
    * verified pairs, not candidates), so even 100 TB corpora often land
    * here; the limit bounds driver memory exactly like
    * `autoBroadcastJoinThreshold` bounds a build side. Both paths are
    * pinned equal to classic union-find by TextAnalysisSpec's
    * random-graph property test.
    *
    * Above the limit: distributed min-label propagation with POINTER
    * JUMPING — each round takes the min over graph neighbors, then jumps
    * to the current representative's label (`lbl := min(lbl, lbl(lbl))`),
    * giving O(log diameter) rounds instead of O(diameter); each round is
    * two equi-joins + one aggregation, every step freely distributed.
    * Chain-shaped clusters (each copy edited from the previous) make
    * plain propagation walk the chain one hop per round — the jump is
    * what keeps a billion-edge graph to ~6 shuffle rounds. `maxIters`
    * caps pathological cases (remaining labels are still valid, just
    * unmerged).
    * Input: (id_a, id_b) pairs; output: (id, cluster_id). Ids absent
    * from any pair are their own singleton clusters by definition and
    * are not emitted. */
  def nearDupClusters(
      pairs: DataFrame, maxIters: Int = 20,
      localEdgeLimit: Long = 1L << 20): DataFrame = {
    // integral ids only: the sum-based convergence check below is
    // type-silent for strings (sum over strings is null -> the loop
    // would "converge" after one round with wrong clusters). Callers
    // with string ids hash them to longs first (xxhash64).
    require(
      Seq("id_a", "id_b").forall(c => pairs.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType => true
        case _ => false
      }),
      s"nearDupClusters requires integral id columns, got " +
        s"${pairs.schema("id_a").dataType.simpleString}")
    // result id type = whatever unionByName promotes the two id columns
    // to on the distributed path — resolved from the plan schema (no
    // execution) so the local path emits the identical schema
    val idType = pairs.select(col("id_a"))
      .unionByName(pairs.select(col("id_b").as("id_a")))
      .schema.head.dataType
    // materialize the skinny pair frame ONCE — the union below reads it
    // twice, and without the persist each branch would recompute the
    // whole upstream pair pipeline (the documented self-join gotcha).
    // Null ids (an upstream outer-join artifact) are dropped explicitly:
    // the distributed path's equi-joins would silently drop them anyway,
    // and the local path must agree rather than unbox null to 0.
    val p = pairs.select(col("id_a"), col("id_b"))
      .where(col("id_a").isNotNull && col("id_b").isNotNull)
      .persistRegistered()
    val nEdges = p.count() // eager: consumed by several branches at once
    if (nEdges <= localEdgeLimit) {
      val local = p
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .collect()
      p.unpersist(false)
      // union-find with min-id roots: parent(hi-root) := lo-root keeps
      // the component minimum at the root, matching the distributed
      // min-label fixpoint exactly
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      local.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      return parent.keys.toSeq.map(i => (i, find(i)))
        .toDF("id", "cluster_id")
        .select(col("id").cast(idType).as("id"),
          col("cluster_id").cast(idType).as("cluster_id"))
    }
    val edges = p
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(p.select(col("id_b").as("a"), col("id_a").as("b")))
      .persistRegistered()
    val labels0 = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .persistRegistered()
    var labels: DataFrame = labels0
    // labels only ever DECREASE, so the label sum strictly decreases
    // until the fixpoint — convergence is one cheap agg per round, not a
    // change-detection join. Summed as decimal(38,0): hashed string ids
    // are uniform full-range longs, and a Long sum over those overflows
    // (ANSI mode -> ArithmeticException mid-loop); decimal is exact.
    def lblSum(df: DataFrame): BigDecimal = {
      val r = df.agg(sum(col("lbl").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) BigDecimal(0) else BigDecimal(r.getDecimal(0))
    }
    def step(ls: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(ls.select(col("id").as("b"), col("lbl").as("nlbl")), "b")
        .groupBy(col("a"))
        .agg(min(col("nlbl")).as("nbr"))
        .select(col("a").as("id"), col("nbr"))
      ls.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr"), col("lbl"))).as("lbl"))
    }
    // pointer jump: lbl := min(lbl, lbl(lbl)). Every label value IS a
    // node id (init lbl=id; both steps take mins over node labels), so
    // the inner self-join is total. Monotone decreasing like `step`.
    def jump(ls: DataFrame): DataFrame = {
      val reps = ls.select(col("id").as("rid"), col("lbl").as("rlbl"))
      ls.join(reps, col("lbl") === col("rid"))
        .select(col("id"), least(col("lbl"), col("rlbl")).as("lbl"))
    }
    var prevSum = lblSum(labels)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // propagate then jump: a no-change round is still a fixpoint
      // witness for plain propagation (both steps are monotone
      // decreasing), which is the classic CC fixpoint.
      // localCheckpoint TRUNCATES THE LINEAGE: with plain persist the
      // logical plan doubles every round and analysis/optimization
      // time, not the data, becomes the loop cost.
      val next = jump(step(labels)).localCheckpoint(true)
      val s = lblSum(next)
      converged = s == prevSum
      prevSum = s
      labels = next
      iters += 1
    }
    // final labels are localCheckpoint'ed (materialized) — the scaffold
    // frames can be released rather than leak across a long session
    labels0.unpersist(false)
    edges.unpersist(false)
    p.unpersist(false)
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** The complete near-dup corpus dedup — the composition every
    * training-data pipeline actually runs: exact n-gram Jaccard pairs →
    * connected components → one survivor per cluster (max `score`, then
    * min id). Docs in no pair are their own singleton clusters. Returns
    * one row per SURVIVOR: (keep_id, cluster_id, score, n_members).
    * Cost shape: the pair pipeline (bucketed inverted-index join) + the
    * label-propagation rounds + one window over (cluster_id) — nothing
    * quadratic, nothing driver-side. */
  def dedupCorpusByNgram(
      docs: DataFrame, idCol: String, textCol: String, score: Column,
      threshold: Double = 0.8, w: Int = 3,
      maxPostings: Int = 1000): DataFrame =
    survivors(
      docs, idCol, score,
      nearDupClusters(ngramJaccardPairs(docs, idCol, textCol, threshold, w, maxPostings)))

  /** Winnowing-based corpus dedup — the same composition with the
    * candidate generator swapped to the substring-level winnow pairs
    * (shared w+k-1-token runs), completing the generator family:
    * set-overlap (ngram), embedding (cosine), substring (winnow) all
    * feed the identical clustering + survivor tail. */
  def dedupCorpusByWinnow(
      docs: DataFrame, idCol: String, textCol: String, score: Column,
      minShared: Int = 2, k: Int = 3, w: Int = 4,
      maxPostings: Int = 1000): DataFrame =
    survivors(
      docs, idCol, score,
      nearDupClusters(
        winnowPairs(docs, idCol, textCol, minShared, k, w, maxPostings)))

  /** Embedding-space corpus dedup — the same composition with the
    * candidate generator swapped: banded sign-LSH cosine pairs →
    * connected components → best survivor per cluster. */
  def dedupCorpusByCosine(
      vectors: DataFrame, idCol: String, vecCol: String, score: Column,
      threshold: Double = 0.9, bands: Int = 4,
      planesPerBand: Int = 0, maxBucket: Int = 1000,
      dim: Option[Int] = None): DataFrame =
    survivors(
      vectors, idCol, score,
      nearDupClusters(Similarity.cosineNearDupPairs(
        vectors, idCol, vecCol, threshold, bands, planesPerBand,
        maxBucket, dim = dim)))

  /** SemDeDup (Abbas et al., 2023): semantic dedup via k-means CELLS —
    * the clustering-cell alternative to [[dedupCorpusByCosine]]'s
    * sign-LSH banding. Centroids train on the capped Lloyd sample
    * (Similarity.ivfBuild — one distributed agg per iteration, k×dim
    * centroids to the driver); the FULL corpus then assigns through
    * TWO-LEVEL routing ([[Similarity.assignCellsRouted]]): a
    * driver-side meta-Lloyd clusters the k centroids into
    * `superK ≈ √k` groups, each vector scores the √k super-centroids
    * then only its group's centroids — n·2√k·d assignment work
    * instead of the flat n·k·d, which is the term that went quadratic
    * at 100 TB scale where k grows with N (k ≈ N/targetCell). The
    * candidate self-join keys on the CELL id (each vector lives in
    * exactly one cell, so no cross-cell pair is ever scored — the
    * paper's recall trade, bounded by cell granularity), pairs verify
    * with the exact e6-rounded cosine, and the shared clusters →
    * survivor tail picks max score / min id per dup group (the paper
    * keeps the centroid-nearest member — pass a centroid-similarity
    * score for that behavior).
    *
    * Oversized cells (> `maxCell`, the universal skew guard) are
    * EXCLUDED from pair scoring but NOT silently: every output row
    * carries `cell_capped` (1 = this survivor's cell was over the cap,
    * so it received no dedup) — `avg(cell_capped)` is the excluded
    * fraction a production run must alert on, because a corpus where
    * every cell exceeds maxCell degrades to a no-op. Output: one row
    * per surviving vector (keep_id, cluster_id, score, n_members,
    * cell_capped). */
  def semDedup(
      vectors: DataFrame, idCol: String, vecCol: String, score: Column,
      threshold: Double = 0.9, k: Int = 16, iters: Int = 3,
      maxCell: Int = 1000, dim: Option[Int] = None,
      superK: Int = 0, metaIters: Int = 2, trainCap: Int = 0,
      routeProbes: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // trainCap bounds the OTHER super-linear term at corpus-pinned k:
    // Lloyd training scores cap(=50·k default) sample rows against k
    // centroids per iteration — 50·k² with the default. Past ~10⁵
    // cells, pin trainCap to a fixed budget (FAISS's stance) so
    // training tracks the budget, not k².
    val index = Similarity
      .ivfBuild(vectors, idCol, vecCol, k = k, iters = iters, dim = dim,
        trainCap = trainCap, routeProbes = routeProbes)
    val r = if (superK > 0) superK
      else math.ceil(math.sqrt(k.toDouble)).toInt
    val (supers, groupOf) =
      Similarity.metaCentroids(index.centroids, r, metaIters)
    // route balance tracks the regime: above RoutedTrainThreshold
    // (corpus-pinned k — the skew-measured production config) the
    // corpus assignment probes the top-2 groups
    // (Similarity.RouteProbesBalanced; r12 probe at 100×/k=1562:
    // cell_capped 10,792 → ZERO, max cell 622 vs 500 flat — no slice
    // of the corpus silently skips dedup anymore); at or below it,
    // single-probe — the pack-fixture regime every d18-class replay
    // pins, where boundary skew is immaterial at fixture k.
    val rp = if (routeProbes > 0) routeProbes
      else if (k > Similarity.RoutedTrainThreshold)
        Similarity.RouteProbesBalanced
      else 1
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val flagged = Similarity
      .assignCellsRouted(base, index.centroids, supers, groupOf,
        probes = rp)
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("c"))))
      .withColumn("cell_capped",
        when(col("_n") > maxCell, 1L).otherwise(0L))
      .drop("_n")
      .persistRegistered()
    flagged.count()
    val capped = flagged.where(col("cell_capped") === 0L)
    val pairs = capped
      .select(col("c"), col("id").as("id_a"), col("v").as("_va"))
      .join(capped.select(col("c"), col("id").as("id_b"),
        col("v").as("_vb")), Seq("c"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("_va"), col("_vb")), 6).as("_cos"))
      .where(col("_cos") >= threshold)
      .select(col("id_a"), col("id_b"))
    survivors(vectors, idCol, score, nearDupClusters(pairs))
      .join(
        flagged.select(col("id").as("keep_id"), col("cell_capped")),
        Seq("keep_id"))
  }

  /** Survivor selection shared by the corpus-dedup compositions: one
    * row per cluster (max score, min id tiebreak); rows absent from
    * `clusters` are their own singleton clusters. */
  private def survivors(
      rows: DataFrame, idCol: String, score: Column,
      clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy("cluster_id")
    rows.select(col(idCol).as("id"), score.as("score"))
      .join(clusters, Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
      .withColumn("rn", row_number().over(
        byCluster.orderBy(col("score").desc, col("id").asc)))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .where(col("rn") === 1)
      .select(col("id").as("keep_id"), col("cluster_id"), col("score"),
        col("n_members"))
  }

  /** Benchmark contamination — the decontamination gate every training
    * pipeline runs: per document, the fraction of its distinct
    * w-shingles that appear anywhere in a benchmark/eval corpus. The
    * benchmark's distinct shingle set is tiny relative to the training
    * corpus, so the probe is a BROADCAST semi-join against the exploded
    * document shingles — the corpus-side scan never shuffles. Returns
    * (id, n_shingles, bench_hits, contamination_e4). */
  def contamination(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, w: Int = 3): DataFrame = {
    val benchShingles = benchmark
      .select(tokenHashes(col(benchTextCol)).as("th")) // two projections:
      .select(explode(shingleHashArray(col("th"), w)).as("g")) // no inline re-eval
      .distinct()
    // the shared (id, shingle) frame — persisted skinny and eagerly
    // populated (two consumers in one action), same shape as the dedup
    // inverted index
    val exploded = invertedIndex(docs, idCol, textCol, w)
    val totals = exploded.groupBy("id")
      .agg(count(lit(1)).as("n_shingles"))
    val hits = exploded
      .join(broadcast(benchShingles), Seq("g"), "left_semi")
      .groupBy("id")
      .agg(count(lit(1)).as("bench_hits"))
    totals
      .join(hits, Seq("id"), "left")
      .select(
        col("id"), col("n_shingles"),
        coalesce(col("bench_hits"), lit(0L)).as("bench_hits"),
        floor(
          coalesce(col("bench_hits"), lit(0L)).cast("double") /
            col("n_shingles").cast("double") * 10000).cast("long")
          .as("contamination_e4"))
  }

  /** Incremental exact dedup — the arriving-batch half of a production
    * crawl pipeline: drop new documents whose content digest already
    * exists in the accumulated corpus, then keep one survivor (min id)
    * per digest WITHIN the batch. At 100 TB the corpus side is far too
    * big to broadcast, so this is a shuffle anti-join keyed on the
    * digest — uniform by construction (md5), no skew, and the corpus
    * side prunes to one column before the exchange. Returns one row per
    * kept batch document: (keep_id, content_hash, n_batch_dups). */
  def dedupAgainstCorpus(
      batch: DataFrame, idCol: String, textCol: String,
      corpus: DataFrame, corpusTextCol: String): DataFrame = {
    val b = batch.select(
      col(idCol).as("doc_id"),
      md5(col(textCol).cast("binary")).as("content_hash"))
    val seen = corpus
      .select(md5(col(corpusTextCol).cast("binary")).as("content_hash"))
      .distinct()
    b.join(seen, Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_batch_dups"))
      .select("keep_id", "content_hash", "n_batch_dups")
  }

  /** Streaming exact dedup — the streaming half of d1 for a live crawl
    * feed: drop rows whose content digest was already seen within the
    * watermark horizon. `dropDuplicatesWithinWatermark` keys the state
    * store on the digest and EVICTS keys older than the delay, so state
    * is bounded by (arrival rate × horizon), not by stream history — the
    * only sound contract for an unbounded stream. Dedup across horizons
    * is the batch pass's job ([[dedupKeepBest]] / d1 over the sink). */
  def streamingExactDedup(
      docs: DataFrame, textCol: String, tsCol: String,
      delay: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Duplicated-span profile — the n-gram approximation of exact
    * substring deduplication (Lee et al. 2022 dedupe spans, not docs):
    * for every document, how many of its token n-gram positions are
    * covered by an n-gram that also occurs in ≥2 distinct documents.
    * High dup-span ratios flag boilerplate/templates that document-level
    * dedup misses.
    *
    * Plan shape = inverted index: explode positions → (doc, gram-digest)
    * [one skinny persisted frame, consumed by both branches], corpus-wide
    * `gram → distinct-doc count` aggregation (one shuffle), semi-join the
    * shared grams back (ids only — never text), per-doc count. No pair
    * join, no |docs|² anywhere; reducers are bounded by gram frequency
    * which the digest hash distributes uniformly.
    *
    * The digest is md5 of the space-joined gram TEXT (not xxhash64 of
    * token hashes like the minhash path) so an external engine can replay
    * the exact grouping — collision-free in practice either way.
    * Output: doc_id, n_spans, n_dup_spans (all long).
    */
  /** Position-level n-gram digest frame (doc_id, q 0-based start, g =
    * md5 of the space-joined gram text), persisted SKINNY and eagerly
    * populated (two consumers per caller). The digest definition is the
    * oracle contract for d12 AND d13 — both operators must group on the
    * bit-identical digest, which is why they share this one builder. */
  private def positionalGrams(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    positionalGramsFromTokens(
      docs.select(col(idCol), tokens(col(textCol)).as("__toks")),
      idCol, "__toks", n)

  /** Token-grain-agnostic form of [[positionalGrams]]: `toksCol` is a
    * MATERIALIZED array<string> column — whitespace tokens for the
    * d12/d13/d26 family, but equally [[TextAnalysis.tokensRegex]]
    * output or [[Bpe.encode]] ids rendered as strings (the Lee et al.
    * operator's BPE-token grain). The digest is md5 of the
    * space-joined rendering, so grain choice changes WHAT counts as a
    * repeat, never the machinery. */
  private def positionalGramsFromTokens(
      docs: DataFrame, idCol: String, toksCol: String, n: Int)
      : DataFrame = {
    val g = spread(docs)
      .select(col(idCol).as("doc_id"), col(toksCol).as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), size(col("t")) - (n - 1)),
          i => md5(concat_ws(" ",
            (0 until n).map(o => element_at(col("t"), i + o)): _*)
            .cast("binary"))))
          .as(Seq("q", "g")))
      .persistRegistered()
    g.count() // eager: consumed by several branches of one action
    g
  }

  /** Digests occurring in ≥2 distinct documents (ids-only frame). */
  private def sharedGrams(grams: DataFrame): DataFrame =
    grams
      .dropDuplicates("doc_id", "g")
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2)
      .select("g")

  def dupSpanProfile(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 8)
      : DataFrame = {
    val grams = positionalGrams(docs, idCol, textCol, n)
    val shared = sharedGrams(grams)
    val perDoc = grams.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    val dupPerDoc = grams
      .join(shared, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))

    val out = perDoc
      .join(dupPerDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
    out
  }

  /** Span-level dedup TRANSFORM — the companion to [[dupSpanProfile]]
    * that actually edits the corpus (Lee et al. 2022: dedupe spans, not
    * documents): every token covered by a cross-document duplicate
    * n-gram is cut, and the document reassembles from the surviving
    * tokens in order. This drops ALL occurrences of a shared span (the
    * aggressive boilerplate-removal variant; keep-one-copy needs a
    * global tie-break pass on top).
    *
    * Same inverted-index shape as the profile, plus: a per-document
    * ROWS-frame window marks tokens within n−1 positions of any dup-span
    * start (coverage), and per-document reassembly is a bounded
    * collect_list (bounded by document length — the one place a
    * row-per-token frame must fold back to a row per document).
    * Output: doc_id, clean_hash (md5 of the cleaned text), n_kept,
    * n_removed.
    */
  def dedupSpans(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 8)
      : DataFrame =
    cutCoveredTokens(docs, idCol, textCol,
      dedupSpanStarts(docs, idCol, textCol, n), n)

  /** [[dedupSpans]] surfacing the cleaned text itself:
    * (doc_id, clean_text, clean_hash, n_kept, n_removed). */
  def dedupSpansText(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 8)
      : DataFrame =
    cutCoveredTokensText(docs, idCol, textCol,
      dedupSpanStarts(docs, idCol, textCol, n), n)

  private def dedupSpanStarts(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val grams = positionalGrams(docs, idCol, textCol, n)
    grams
      .join(sharedGrams(grams), Seq("g"), "left_semi")
      .select(col("doc_id"), col("q").as("p"), lit(1).as("st"))
  }

  /** Shared cut-and-reassemble tail for the span-dedup transforms:
    * given duplicate-gram START positions (doc_id, p, st=1), mark
    * every token within the n-token window of a start (per-document
    * ROWS frame — coverage of [p, p+n−1]) and rebuild each document
    * from the surviving tokens in order (the one bounded-by-doc-length
    * collect in the family). Output: doc_id, clean_hash, n_kept,
    * n_removed. */
  private def cutCoveredTokens(
      docs: DataFrame, idCol: String, textCol: String,
      starts: DataFrame, n: Int): DataFrame =
    cutCoveredFromTokens(
      docs.select(col(idCol), tokens(col(textCol)).as("__toks")),
      idCol, "__toks", starts, n)

  private def cutCoveredTokensText(
      docs: DataFrame, idCol: String, textCol: String,
      starts: DataFrame, n: Int): DataFrame =
    cutCoveredFromTokensText(
      docs.select(col(idCol), tokens(col(textCol)).as("__toks")),
      idCol, "__toks", starts, n)

  private def cutCoveredFromTokens(
      docs: DataFrame, idCol: String, toksCol: String,
      starts: DataFrame, n: Int): DataFrame =
    cutCoveredFromTokensText(docs, idCol, toksCol, starts, n)
      .select("doc_id", "clean_hash", "n_kept", "n_removed")

  /** The shared cut tail, now ALSO surfacing the cleaned text itself:
    * the reassembly agg builds the space-joined surviving tokens
    * anyway (the hash was always md5 OF that string), so the text
    * variant is the same plan with one fewer projection drop — a
    * production pipeline writes `clean_text` to the output corpus
    * while `clean_hash` stays the portable oracle/audit digest
    * (`md5(clean_text) == clean_hash` by construction, spec-pinned).
    * Output: (doc_id, clean_text, clean_hash, n_kept, n_removed). */
  private def cutCoveredFromTokensText(
      docs: DataFrame, idCol: String, toksCol: String,
      starts: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tp = docs
      .select(col(idCol).as("doc_id"), col(toksCol).as("t"))
      .select(col("doc_id"), posexplode(col("t")).as(Seq("p", "tk")))
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(n - 1), Window.currentRow)
    tp.join(starts, Seq("doc_id", "p"), "left_outer")
      .withColumn("st", coalesce(col("st"), lit(0)))
      .withColumn("c", max(col("st")).over(byDoc))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(
            sort_array(collect_list(
              when(col("c") === 0, struct(col("p"), col("tk"))))),
            x => x.getField("tk")),
          " ").as("clean_text"),
        sum(when(col("c") === 0, 1L).otherwise(0L)).as("n_kept"),
        sum(col("c").cast("long")).as("n_removed"))
      .select(col("doc_id"), col("clean_text"),
        md5(col("clean_text").cast("binary")).as("clean_hash"),
        col("n_kept"), col("n_removed"))
  }

  /** L-gram positions whose CORPUS-WIDE occurrence count (with
    * multiplicity — a within-document repeat counts, unlike
    * [[sharedGrams]]' distinct-docs test) is ≥ 2: exactly the start
    * positions of length-L windows lying inside an exactly-duplicated
    * token run. */
  private def dupGramStarts(grams: DataFrame): DataFrame =
    grams
      .join(
        grams.groupBy("g").agg(count(lit(1)).as("n"))
          .where(col("n") >= 2).select("g"),
        Seq("g"), "left_semi")
      .select(col("doc_id"), col("q"))

  /** Exact repeated-substring SPANS at suffix grain (Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr): the maximal token runs of length ≥ `minLen` that
    * occur (token-exactly) at least twice in the corpus — across
    * documents OR repeated within one — with PRECISE token boundaries.
    *
    * Why d12/d13 don't subsume this: they mark positions whose
    * fixed-n gram (n ≪ L) is shared by ≥2 documents, so a repeat whose
    * internal n-grams are individually common is over-flagged (no ≥L
    * run need exist), within-document repeats are invisible, and
    * boundaries smear to gram grain. Here the gram length IS `minLen`,
    * which makes the window-union EXACT: a position lies under a
    * duplicated L-gram window iff it lies inside a duplicated run of
    * length ≥ L (every length-L window of such a run is itself
    * duplicated; conversely a duplicated L-gram is such a run). The
    * suffix-array machinery of the paper is replaced by one
    * inverted-index aggregation — the partition-parallel formulation.
    *
    * Plan: positional L-gram digests (one skinny persisted frame) →
    * corpus-wide count ≥ 2 (one shuffle, WITH multiplicity) → per-doc
    * interval union of the hit windows [q, q+L−1] (lag/sum windows
    * over the hit positions only — never the token stream). No pair
    * join anywhere; reducers bound by gram frequency.
    *
    * Output: (doc_id, span_start 0-based, span_len ≥ minLen) — one row
    * per maximal duplicated span. */
  def exactSubstrSpans(
      docs: DataFrame, idCol: String, textCol: String, minLen: Int = 20)
      : DataFrame =
    exactSubstrSpansFromTokens(
      docs.select(col(idCol), tokens(col(textCol)).as("__toks")),
      idCol, "__toks", minLen)

  /** [[exactSubstrSpans]] at ANY token grain: `toksCol` is a
    * materialized array<string> — regex tokens, or [[Bpe.encode]] ids
    * rendered as strings for the paper's BPE-token-grain semantics
    * (positions/lengths are then BPE-token offsets). */
  def exactSubstrSpansFromTokens(
      docs: DataFrame, idCol: String, toksCol: String, minLen: Int = 20)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minLen >= 2, "minLen must be >= 2")
    val grams = positionalGramsFromTokens(docs, idCol, toksCol, minLen)
    val hits = dupGramStarts(grams)
    val w = Window.partitionBy("doc_id").orderBy("q")
    // consecutive hit windows [q, q+L-1] union iff gap(q) <= L; a
    // larger gap starts a new maximal span
    hits
      .withColumn("_brk",
        when(coalesce(col("q") - lag(col("q"), 1).over(w), lit(minLen.toLong + 1))
          > minLen, 1L).otherwise(0L))
      .withColumn("_grp", sum(col("_brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("_grp"))
      .agg(
        min(col("q")).cast("long").as("span_start"),
        (max(col("q")) - min(col("q")) + minLen).cast("long").as("span_len"))
      .select("doc_id", "span_start", "span_len")
  }

  /** Exact repeated-substring DEDUP transform — cuts every token
    * inside a [[exactSubstrSpans]] span and reassembles the document
    * (the drop-all-occurrences variant, matching [[dedupSpans]]'
    * documented aggressive semantics; keep-one-copy needs a global
    * tie-break pass on top). Same output contract as [[dedupSpans]]:
    * (doc_id, clean_hash, n_kept, n_removed) — but the removal set is
    * the EXACT ≥minLen duplicated runs, not the n-gram smear. */
  def exactSubstrDedup(
      docs: DataFrame, idCol: String, textCol: String, minLen: Int = 20)
      : DataFrame =
    exactSubstrDedupFromTokens(
      docs.select(col(idCol), tokens(col(textCol)).as("__toks")),
      idCol, "__toks", minLen)

  /** [[exactSubstrDedup]] at any token grain (see
    * [[exactSubstrSpansFromTokens]]); clean_hash digests the
    * space-joined KEPT tokens of `toksCol`. */
  def exactSubstrDedupFromTokens(
      docs: DataFrame, idCol: String, toksCol: String, minLen: Int = 20)
      : DataFrame =
    cutCoveredFromTokens(docs, idCol, toksCol,
      exactSubstrStarts(docs, idCol, toksCol, minLen), minLen)

  /** [[exactSubstrDedup]] surfacing the cleaned text:
    * (doc_id, clean_text, clean_hash, n_kept, n_removed). */
  def exactSubstrDedupText(
      docs: DataFrame, idCol: String, textCol: String, minLen: Int = 20)
      : DataFrame =
    exactSubstrDedupTextFromTokens(
      docs.select(col(idCol), tokens(col(textCol)).as("__toks")),
      idCol, "__toks", minLen)

  /** [[exactSubstrDedupText]] at any token grain. */
  def exactSubstrDedupTextFromTokens(
      docs: DataFrame, idCol: String, toksCol: String, minLen: Int = 20)
      : DataFrame =
    cutCoveredFromTokensText(docs, idCol, toksCol,
      exactSubstrStarts(docs, idCol, toksCol, minLen), minLen)

  private def exactSubstrStarts(
      docs: DataFrame, idCol: String, toksCol: String, minLen: Int)
      : DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    val grams = positionalGramsFromTokens(docs, idCol, toksCol, minLen)
    dupGramStarts(grams)
      .select(col("doc_id"), col("q").as("p"), lit(1).as("st"))
  }

  /** SPAN-LEVEL decontamination — the middle ground between
    * [[contamination]] (a per-doc SCORE; the caller drops whole
    * documents over a threshold) and dropping nothing: cut exactly
    * the token spans that overlap the benchmark and keep the rest of
    * the document. The right response when contamination is a quoted
    * eval question inside an otherwise-good page — doc-level dropping
    * throws away the page, doc-level keeping leaks the question.
    *
    * Mechanics: every position whose w-gram (md5 of the space-joined
    * gram text, the d12/d13 digest) appears in the benchmark's
    * distinct gram set is a cut start; the shared coverage window
    * removes [q, q+w−1]; reassembly as in [[dedupSpans]]. The
    * benchmark gram frame BROADCASTS (eval sets are tiny — the d10
    * contract). Output: (doc_id, clean_hash, n_kept, n_removed);
    * n_removed = 0 rows are the untouched documents. */
  def decontamSpanCut(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, w: Int = 8)
      : DataFrame =
    cutCoveredTokens(docs, idCol, textCol,
      decontamStarts(docs, idCol, textCol, benchmark, benchTextCol, w), w)

  /** [[decontamSpanCut]] surfacing the cleaned text — the form a
    * production pipeline actually writes back out:
    * (doc_id, clean_text, clean_hash, n_kept, n_removed). */
  def decontamSpanCutText(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, w: Int = 8)
      : DataFrame =
    cutCoveredTokensText(docs, idCol, textCol,
      decontamStarts(docs, idCol, textCol, benchmark, benchTextCol, w), w)

  private def decontamStarts(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, w: Int): DataFrame = {
    require(w >= 2, "w must be >= 2")
    val benchGrams = benchmark
      .select(col(benchTextCol).as("__bt"))
      .select(tokens(col("__bt")).as("t"))
      .where(size(col("t")) >= w)
      .select(explode(transform(
        sequence(lit(1), size(col("t")) - (w - 1)),
        i => md5(concat_ws(" ",
          (0 until w).map(o => element_at(col("t"), i + o)): _*)
          .cast("binary")))).as("g"))
      .distinct()
    positionalGrams(docs, idCol, textCol, w)
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select(col("doc_id"), col("q").as("p"), lit(1).as("st"))
  }

  /** KEEP-ONE-COPY exact substring dedup — the removal policy of Lee
    * et al. 2022 itself (each duplicated substring survives once in
    * the corpus), where [[exactSubstrDedup]] is the aggressive
    * drop-all form: a duplicated-L-gram position is cut only if it is
    * NOT the gram's CANONICAL occurrence — canonical = the corpus-wide
    * minimum (doc_id, position) for that digest, a deterministic
    * ingestion-order tie-break (the d24 first-seen discipline). For a
    * run duplicated across documents, every window of its first-corpus
    * occurrence is canonical there, so the first document keeps the
    * text intact and every later copy is cut at exact boundaries; a
    * within-document repeat keeps its earlier occurrence. (A gram
    * whose canonical home lies inside a DIFFERENT earlier repeat still
    * counts as seen — "first occurrence" is by digest, the same
    * greedy-linear-scan semantics as the paper's implementation.)
    *
    * Plan: one argmin-struct aggregation per digest on top of the d26
    * machinery (same shuffle key as the count — no new exchange
    * shape), then the shared coverage/reassembly tail. Same output
    * contract as [[dedupSpans]]/[[exactSubstrDedup]]. */
  def exactSubstrDedupKeepFirst(
      docs: DataFrame, idCol: String, textCol: String, minLen: Int = 20)
      : DataFrame =
    exactSubstrDedupKeepFirstFromTokens(
      docs.select(col(idCol), tokens(col(textCol)).as("__toks")),
      idCol, "__toks", minLen)

  /** [[exactSubstrDedupKeepFirst]] at any token grain (see
    * [[exactSubstrSpansFromTokens]]). */
  def exactSubstrDedupKeepFirstFromTokens(
      docs: DataFrame, idCol: String, toksCol: String, minLen: Int = 20)
      : DataFrame =
    cutCoveredFromTokens(docs, idCol, toksCol,
      keepFirstStarts(docs, idCol, toksCol, minLen), minLen)

  /** [[exactSubstrDedupKeepFirst]] surfacing the cleaned text:
    * (doc_id, clean_text, clean_hash, n_kept, n_removed). */
  def exactSubstrDedupKeepFirstText(
      docs: DataFrame, idCol: String, textCol: String, minLen: Int = 20)
      : DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
    cutCoveredFromTokensText(toks, idCol, "__toks",
      keepFirstStarts(toks, idCol, "__toks", minLen), minLen)
  }

  private def keepFirstStarts(
      docs: DataFrame, idCol: String, toksCol: String, minLen: Int)
      : DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    val grams = positionalGramsFromTokens(docs, idCol, toksCol, minLen)
    val canon = grams
      .groupBy("g")
      .agg(
        count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("q"))).as("first"))
      .where(col("n") >= 2)
      .select(col("g"), col("first.doc_id").as("_fd"),
        col("first.q").as("_fq"))
    grams
      .join(canon, Seq("g"))
      .where(!(col("doc_id") === col("_fd") && col("q") === col("_fq")))
      .select(col("doc_id"), col("q").as("p"), lit(1).as("st"))
  }

  /** GLOBAL line-level dedup (the C4/RefinedWeb line-grain pass —
    * Raffel et al. 2020 §2.2's "discard all but one of any repeated
    * line" and the CCNet/RefinedWeb boilerplate-line collapse): every
    * distinct line keeps exactly its CANONICAL occurrence — the
    * corpus-wide minimum (doc_id, line_no), the d24/d28 first-seen
    * discipline — and every other occurrence is cut; documents then
    * reassemble from their surviving lines. Nav bars, cookie banners
    * and footers collapse to one copy corpus-wide while the first page
    * that carried them stays intact; a document whose every line is
    * seen elsewhere first dedups to the empty document (clean_hash of
    * '' with n_kept = 0 — the caller's drop gate).
    *
    * Input is a LINES frame (idCol, lineNoCol, lineCol) so the caller
    * owns the segmentation contract ([[lineDedup]] splits `textCol` on
    * a separator; a fixture with no newlines can derive fixed-width
    * token blocks — the d30 query does). Plan: one digest-keyed
    * argmin aggregation over the lines (singleton digests drop at the
    * `n ≥ 2` gate, so the join side is bounded by DISTINCT duplicated
    * lines, never occurrences), one hash join back on the digest, one
    * per-doc reassembly agg — two linear exchanges, nothing pairwise;
    * a pathologically hot line ("Home") is one agg group and one
    * skewed-but-AQE-splittable join key, never a pair blowup.
    *
    * Output: (doc_id, clean_hash = md5 of surviving lines
    * '\n'-joined in line order, n_kept, n_removed) — the
    * d26/d27/d28 contract at line grain. */
  def lineDedupFromLines(
      lines: DataFrame, idCol: String, lineNoCol: String, lineCol: String)
      : DataFrame =
    lineDedupFromLinesText(lines, idCol, lineNoCol, lineCol)
      .select("doc_id", "clean_hash", "n_kept", "n_removed")

  /** [[lineDedupFromLines]] surfacing the cleaned text (surviving
    * lines '\n'-joined in line order):
    * (doc_id, clean_text, clean_hash, n_kept, n_removed). */
  def lineDedupFromLinesText(
      lines: DataFrame, idCol: String, lineNoCol: String, lineCol: String)
      : DataFrame = {
    val base = lines.select(
      col(idCol).as("doc_id"),
      col(lineNoCol).cast("long").as("line_no"),
      col(lineCol).as("line"))
    val withG = base.withColumn("g", md5(col("line").cast("binary")))
    // Blank/whitespace-only lines (paragraph separators, trailing
    // newlines) are STRUCTURE, not content: they all share one digest,
    // so admitting them to the canonicality test would strip every
    // blank line in the corpus but one. They are kept unconditionally
    // by excluding them from the canonical-occurrence frame.
    val canon = withG
      .where(length(trim(col("line"))) > 0)
      .groupBy("g")
      .agg(
        count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("line_no"))).as("first"))
      .where(col("n") >= 2)
      .select(col("g"), col("first.doc_id").as("_fd"),
        col("first.line_no").as("_fq"))
    withG
      .join(canon, Seq("g"), "left_outer")
      .withColumn("rm",
        when(col("_fd").isNotNull &&
          !(col("doc_id") === col("_fd") && col("line_no") === col("_fq")),
          1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(
            sort_array(collect_list(
              when(col("rm") === 0, struct(col("line_no"), col("line"))))),
            x => x.getField("line")),
          "\n").as("clean_text"),
        sum(when(col("rm") === 0, 1L).otherwise(0L)).as("n_kept"),
        sum(col("rm")).as("n_removed"))
      .select(col("doc_id"), col("clean_text"),
        md5(col("clean_text").cast("binary")).as("clean_hash"),
        col("n_kept"), col("n_removed"))
  }

  /** [[lineDedup]] surfacing the cleaned text. */
  def lineDedupText(
      docs: DataFrame, idCol: String, textCol: String, sep: String = "\n")
      : DataFrame =
    lineDedupFromLinesText(
      docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__ln", "__line"))),
      idCol, "__ln", "__line")

  /** [[lineDedupFromLines]] over a text column: lines are `sep`-split
    * segments of `textCol` in document order (the production contract
    * — '\n' for web pages). */
  def lineDedup(
      docs: DataFrame, idCol: String, textCol: String, sep: String = "\n")
      : DataFrame =
    lineDedupText(docs, idCol, textCol, sep)
      .select("doc_id", "clean_hash", "n_kept", "n_removed")

  // ---- shingling --------------------------------------------------------

  /** Word w-shingles of a document (w consecutive tokens, space-joined). */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = tokens(text)
    when(
      size(toks) >= w,
      transform(
        sequence(lit(1), size(toks) - (w - 1)),
        i => concat_ws(" ", (0 until w).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Portable 60-bit hash of a string column — the t5 md5 idiom
    * (`conv(substr(md5(x),1,15),16,10)` ≡ DuckDB
    * `('0x'||substr(md5(x),1,15))::BIGINT`). 15 hex digits = 60 bits
    * keeps it positive in a BIGINT on every engine. The whole dedup
    * family keys on THIS hash rather than xxhash64 so an independent
    * engine can replay the full LSH pipeline (band hashes, bucket
    * collisions, candidate pairs) — the substrate behind the d3/d4
    * full-replay DuckDB oracles in DedupQueries. */
  def pmd5(c: Column): Column = {
    // native single-expression form of
    // conv(substring(md5(x),1,15),16,10) — bit-equal (spec-pinned),
    // ~4× cheaper per call: no hex render, no radix parse, no
    // intermediate UTF8Strings. pmd5 sits under every inverted index /
    // signature / sampling gate, ~530k evaluations per d-query at
    // sf0.1 (r14 invdbg probe).
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expr.PortableMd5(
      ColumnBridge.expression(c.cast("string"))))
  }

  /** Per-token 60-bit PORTABLE hashes — computed once per document;
    * shingle identity derives from these, never from re-concatenated
    * strings. */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => pmd5(t))

  /** Distinct w-shingle hashes from a token-hash ARRAY COLUMN: shingle
    * hash = portable md5 of the w consecutive token hashes rendered as
    * a comma-joined decimal string (cast long→string is
    * engine-identical). `th` must be a materialized column reference,
    * not an inline expression — an inlined token-hash subtree would be
    * re-evaluated w times per shingle position (the string-shingle
    * formulation re-ran the regex split ~3×|shingles| per row; measured
    * ~8 s / 5k docs — the single dominant cost of the whole dedup
    * family). Fewer-than-w tokens hash the whole token-hash array as
    * one shingle (d5's oracle CASE arm). */
  def shingleHashArray(th: Column, w: Int = 3): Column =
    array_distinct(
      when(
        size(th) >= w,
        transform(
          sequence(lit(1), size(th) - (w - 1)),
          i => pmd5(concat_ws(",",
            (0 until w).map(o => element_at(th, i + o).cast("string")): _*))))
        .otherwise(array(
          pmd5(array_join(transform(th, _.cast("string")), ",")))))

  /** Distinct shingle hashes straight from text (test/one-shot use; the
    * pipelines go through [[tokenHashes]] + [[shingleHashArray]] in two
    * projections). */
  def shingleHashes(text: Column, w: Int = 3): Column =
    shingleHashArray(tokenHashes(text), w)

  // ---- MinHash ----------------------------------------------------------
  // (signature generation lives in minhashBandsAgg — the one-expression
  // array formulation it replaced nested k array traversals into a
  // single projection, a codegen blowup that fell back to interpreted
  // eval)

  /** Deterministic constants for the k minhash functions
    * h_i(g) = ((a_i·u) mod p + (b_i·v) mod p + c_i) mod p over the
    * Mersenne prime p = 2³¹−1, where u = g div 2³⁰ and v = g mod 2³⁰
    * split the full 60-bit shingle hash into two uniform 30-bit halves
    * — a genuinely linear 2-universal family over F_p² that consumes
    * ALL 60 gram bits. Each product stays under 2⁶¹ (a_i < 2³¹,
    * u,v < 2³⁰) and each intermediate mod keeps the sum under 3·2³¹,
    * so no BIGINT overflow on any engine, no ANSI trip. (The previous
    * single-variable form truncated g to 31 bits and wrapped the 2⁶¹−1
    * modulus at most once, making h_i a two-piece monotone map of the
    * SAME g31 for every i — argmins were correlated across the k
    * functions and one unlucky changed-shingle minimum killed all 16
    * bands at once: the deterministic planted-pair recall break.)
    * Constants derive from md5 of a fixed label, not an RNG, so the
    * identical literals inline into both the Spark plan and the DuckDB
    * oracle SQL. */
  object PortableHash {
    val P31: Long = (1L << 31) - 1
    val M30: Long = 1L << 30
    private def md5Long(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      BigInt(1, d.take(8)).toLong & Long.MaxValue
    }
    /** (a_i, b_i, c_i): a,b uniform in [1,p), c in [0,p). */
    def affine(k: Int): IndexedSeq[(Long, Long, Long)] =
      (0 until k).map(i =>
        (md5Long(s"mh-a-$i") % (P31 - 1) + 1,
          md5Long(s"mh-b-$i") % (P31 - 1) + 1,
          md5Long(s"mh-c-$i") % P31))
  }

  /** Exact Jaccard between two set-valued (distinct) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Inverted (id, shingle-hash) frame — the one projection every dedup
    * path shares, persisted SKINNY: two long columns cache in columnar
    * batches almost for free, whereas caching the array<long> form costs
    * multiple seconds of InMemoryRelation build (measured 8s on 5k docs
    * — the array column dominates the whole pipeline). Shingle hashing
    * runs exactly once; signatures, set sizes and shared-shingle counts
    * all derive from this frame by aggregation/join. */
  /** Widen-only repartition ahead of an explode-amplifying map: a
    * narrow input (one small single-row-group parquet file, a skewed
    * upstream coalesce) would run the whole gram/signature expansion
    * on one task even though the EXPANSION — not the input — is the
    * cost. No-op (no shuffle) when the input is already at least as
    * wide as the cluster parallelism, so large corpora keep their
    * natural splits; every consumer is content-keyed, so the result
    * is layout-independent by contract (the t33/q24 no-RNG
    * discipline). */
  private[ext] def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    // AQE guard: Dataset.rdd on an adaptive plan materializes every
    // upstream shuffle stage just to expose a partition count — the
    // probe would EXECUTE the expensive part of the caller's plan and
    // throw it away. A plan that shuffles anywhere is already
    // cluster-wide at its output (spark.sql.shuffle.partitions, or
    // AQE-coalesced precisely because it is small), so only
    // exchange-free plans — file scans, local relations, cached
    // frames — are probed, and for those .rdd builds the graph
    // without running a job.
    val hasExchange = df.queryExecution.sparkPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      .isDefined
    if (hasExchange) return df
    val width = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < width) df.repartition(width) else df
  }

  private def invertedIndex(
      docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    val df = spread(docs)
      .select(col(idCol).as("id"), tokenHashes(col(textCol)).as("th"))
      .select(col("id"), explode(shingleHashArray(col("th"), w)).as("g"))
      .persistRegistered()
    // EAGER populate: a lazily-persisted frame consumed by several
    // branches of ONE action gets recomputed concurrently per branch
    // (the cache is still empty when the sibling tasks start) — the
    // shingle projection would run 2-3x inside the same job
    df.count()
    df
  }

  /** Exact Jaccard for candidate (id_a, id_b) pairs from the inverted
    * frame: |A∩B| = posting collisions per pair, J = shared/(na+nb−shared).
    * `sizes` (id, n = |shingle set|) is taken as an argument so callers
    * that already aggregated by id (the minhash signature pass) reuse
    * that shuffle instead of re-aggregating the full inverted frame. */
  private def verifyJaccard(
      cand: DataFrame, inverted: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    verifyJaccardAcross(cand, inverted, inverted, sizes, threshold)

  /** Shared tail of the exact-Jaccard family: per-id set sizes joined
    * onto an (id_a, id_b, shared) collision-count frame,
    * `J = shared/(n_a+n_b−shared)` thresholded on the RAW double,
    * e4-rounded score out. ONE definition, THREE consumers
    * ([[ngramJaccardPairs]], [[ngramJaccardPairsSampled]],
    * [[verifyJaccardAcross]]) — the rounding/threshold semantics feed
    * hash oracles (d3/d5/d19/d33/d38/t25/t46), so they must not be
    * able to drift between call sites. */
  private def jaccardFromShared(
      shared: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    shared
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 4).as("jaccard"))

  /** [[verifyJaccard]] with distinct posting frames per pair side —
    * the cross-corpus probe case, where id_a postings live in the
    * batch's inverted frame and id_b postings in the corpus index. */
  private def verifyJaccardAcross(
      cand: DataFrame, invA: DataFrame, invB: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame = {
    val shared = cand
      .join(invA.select(col("id").as("id_a"), col("g")), "id_a")
      .join(invB.select(col("id").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
    jaccardFromShared(shared, sizes, threshold)
  }

  /** Candidate pairs by LSH band collision, ids only, deduped; bucket
    * size capped (skew guard — a bucket of identical boilerplate would
    * otherwise hand one reducer O(bucket²) pairs). `withBands` is the
    * persisted scalar frame from [[minhashBandsAgg]]; the explode is
    * cheap enough to recompute from cache for each consumer. */
  private def bandCandidates(
      withBands: DataFrame, bands: Int, maxBucket: Int): DataFrame = {
    val buckets = explodeBandBuckets(withBands, bands)
    val small = buckets.groupBy("band", "bh").count()
      .where(col("count") <= maxBucket).drop("count")
    val capped = buckets.join(small, Seq("band", "bh"))
    capped.select(col("band"), col("bh"), col("id").as("id_a"))
      .join(capped.select(col("band"), col("bh"), col("id").as("id_b")),
        Seq("band", "bh"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** (id, band, bh) rows from the scalar [[minhashBandsAgg]] frame. */
  private def explodeBandBuckets(withBands: DataFrame, bands: Int): DataFrame =
    withBands
      .select(col("id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), col(s"bh$b").as("bh"))): _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bh").as("bh"))

  /** MinHash band hashes + set sizes in ONE aggregation pass over the
    * inverted frame, emitted as SCALAR columns (id, n, bh0..bh{B-1}).
    * Three wins over the array formulation: every expression stays tiny
    * (two mulmods + min each → codegen, map-side partial agg); the set
    * size rides the same shuffle (no second aggregation for the
    * verifier); and a scalar frame persists almost for free where the
    * array<long> signature form costs seconds of columnar cache build
    * (the documented array-persist gotcha). */
  private def minhashBandsAgg(
      inverted: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val ab = PortableHash.affine(k)
    val p = lit(PortableHash.P31)
    def h(i: Int) =
      ((lit(ab(i)._1) * col("u")) % p + (lit(ab(i)._2) * col("v")) % p +
        lit(ab(i)._3)) % p
    inverted
      .select(col("id"),
        shiftright(col("g"), 30).as("u"), // exact: g is a positive 60-bit long
        (col("g") % lit(PortableHash.M30)).as("v"))
      .groupBy("id")
      .agg(
        min(h(0)).as("h0"),
        (1 until k).map(i => min(h(i)).as(s"h$i")) :+
          count(lit(1)).as("n"): _*)
      .select(col("id") +: col("n") +:
        (0 until bands).map(b =>
          pmd5(concat_ws(",",
            (0 until rows).map(r => col(s"h${b * rows + r}").cast("string")): _*))
            .as(s"bh$b")): _*)
  }

  /** End-to-end MinHash-LSH near-dup pairs over (id, text): candidates
    * from band collisions, verified with exact Jaccard via shared-
    * posting counts (document content never re-joins). Returns
    * (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ t. */
  def minhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, k: Int = 64, bands: Int = 16,
      maxBucket: Int = 1000, w: Int = 3): DataFrame = {
    val inverted = invertedIndex(docs, idCol, textCol, w)
    val withBands = minhashBandsAgg(inverted, k, bands)
      .persistRegistered() // feeds bands AND sizes
    withBands.count() // eager: 4 sibling branches read it in one action
    verifyJaccard(
      bandCandidates(withBands, bands, maxBucket), inverted,
      withBands.select(col("id"), col("n")), threshold)
  }

  /** Incremental MinHash-LSH near-dup: an arriving `batch` probed
    * against an accumulated `corpus` — [[dedupAgainstCorpus]] (d14's
    * exact-digest incremental dedup) generalized to NEAR-duplicates,
    * the continuous-crawl shape where every new snapshot is deduped
    * against all previous ones without ever rescanning them.
    * Candidates are cross-side band collisions ONLY (batch↔corpus;
    * within-batch dedup composes with [[minhashPairs]] over the batch
    * alone), verified with exact Jaccard via shared postings. The
    * bucket cap applies to the CORPUS side (the index skew guard: a
    * boilerplate bucket with more than `maxBucket` index entries is
    * dropped rather than handing every probe O(bucket) candidates).
    * Ids must be globally distinct across the two frames.
    *
    * 100 TB shape: the corpus's band signatures and inverted postings
    * are write-once tables keyed by (band, bh) and (id, g) — here they
    * are recomputed because the fixture has no persisted index, but
    * nothing downstream of the corpus side of `sig`/`inverted` depends
    * on how it materialized. A batch probe shuffles only its own
    * signatures plus the colliding index rows; corpus cost is
    * O(matches), not O(size).
    *
    * Returns (id_a = batch id, id_b = corpus id, jaccard ≥ threshold). */
  def minhashPairsAgainstCorpus(
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, k: Int = 64, bands: Int = 16,
      maxBucket: Int = 1000, w: Int = 3): DataFrame = {
    // one inverted index + one signature aggregation over the UNION
    // (ids are disjoint, signatures are per-document functions), with a
    // skinny id→side frame joined on after the agg — half the scans
    // and materializations of a per-side formulation, and at scale the
    // shape stays: the persisted index IS the corpus half of `sig`
    val un = batch.select(col(idCol), col(textCol))
      .unionByName(corpus.select(col(idCol), col(textCol)))
    val inverted = invertedIndex(un, idCol, textCol, w)
    val sides = batch.select(col(idCol).as("id"), lit(true).as("is_batch"))
      .unionByName(corpus.select(col(idCol).as("id"), lit(false).as("is_batch")))
    val sig = minhashBandsAgg(inverted, k, bands)
      .join(sides, "id")
      .persistRegistered()
    sig.count() // eager: feeds both bucket sides AND the size lookup
    val buck = sig
      .select(col("id"), col("is_batch"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), col(s"bh$b").as("bh"))): _*)).as("b"))
      .select(col("id"), col("is_batch"),
        col("b.band").as("band"), col("b.bh").as("bh"))
    val buckC = buck.where(!col("is_batch")).drop("is_batch")
    val okC = buckC.groupBy("band", "bh").count()
      .where(col("count") <= maxBucket).drop("count")
    val cand = buck.where(col("is_batch"))
      .select(col("band"), col("bh"), col("id").as("id_a"))
      .join(
        buckC.join(okC, Seq("band", "bh"))
          .select(col("band"), col("bh"), col("id").as("id_b")),
        Seq("band", "bh"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(cand, inverted, sig.select(col("id"), col("n")), threshold)
  }

  /** Materialize the write-once minhash index of a corpus under `dir`:
    * three skinny parquet tables — `postings` (id, g), `sizes` (id, n),
    * and `buckets` (band, bh, id, bucket_n) with the per-(band, bh)
    * bucket size PRE-COMPUTED so a probe never re-counts the index.
    * This is the production artifact [[minhashPairsAgainstCorpus]]
    * recomputes inline when no index exists; build cost is one corpus
    * scan + the signature aggregation, paid once per corpus version. */
  def minhashIndexWrite(
      corpus: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int = 64, bands: Int = 16, w: Int = 3): Unit = {
    val inverted = invertedIndex(corpus, idCol, textCol, w)
    val sig = minhashBandsAgg(inverted, k, bands)
      .persistRegistered()
    sig.count() // eager: sizes AND buckets read it
    MinhashFamily.write(corpus.sparkSession, dir,
      Map("postings" -> inverted, "sizes" -> sig.select(col("id"), col("n")),
        "buckets" -> countBuckets(explodeBandBuckets(sig, bands))),
      Map.empty)
    sig.unpersist(false)
    inverted.unpersist(false)
  }

  /** (band, bh, id) bucket rows with `bucket_n` (re)counted from the
    * rows themselves — the build's counts, and compaction's recount
    * over live membership. */
  private def countBuckets(buckets: DataFrame): DataFrame = {
    val rows = buckets.drop("bucket_n")
    rows.join(rows.groupBy("band", "bh").agg(count(lit(1)).as("bucket_n")),
      Seq("band", "bh"))
  }

  /** The persisted minhash index family ([[PersistedIndex]]): three
    * skinny UNPARTITIONED tables — the probe broadcasts the batch onto
    * whole-table scans, so maintenance is table-scoped — with `sizes`
    * one row per doc, and compaction recounting `bucket_n` from live
    * membership (un-staling the skew cap) — so a compacted index is
    * bit-identical to one freshly built on the surviving corpus
    * (spec-pinned; the d39 oracle relies on it). */
  val MinhashFamily: PersistedIndex.Family = PersistedIndex.Family("minhash",
    Seq(PersistedIndex.Table("postings"), PersistedIndex.Table("sizes"),
      PersistedIndex.Table("buckets", onCompact = countBuckets)),
    model = Nil, member = "sizes")

  /** Probe a persisted minhash index with an arriving batch — the
    * amortized form of [[minhashPairsAgainstCorpus]] (bit-identical
    * results; spec-pinned). The batch's signatures and candidate ids
    * BROADCAST against the index tables, so the index is only ever
    * SCANNED (twice: bucket probe + posting verify), never shuffled —
    * per-probe cost is the two scans plus work proportional to
    * |batch| + |matches|, independent of index size up to scan
    * bandwidth; a (band, bh)-bucketed layout turns the scans into
    * pruned reads. The stored `bucket_n` applies the skew cap without
    * re-counting. The broadcasts bound the BATCH size (~16 band rows
    * and ~1 candidate row per batch doc must fit the broadcast limit —
    * fine for the micro-batch/daily-increment sizes this exists for);
    * a crawl-sized "batch" should use [[minhashPairsAgainstCorpus]],
    * whose candidate join shuffles both sides. */
  def minhashProbeIndex(
      batch: DataFrame, idCol: String, textCol: String, dir: String,
      threshold: Double = 0.5, k: Int = 64, bands: Int = 16,
      maxBucket: Int = 1000, w: Int = 3): DataFrame = {
    val spark = batch.sparkSession
    // ONE manifest snapshot for the postings/sizes/buckets trio + the
    // sidecar: a compaction flip mid-probe cannot mix epochs
    val snap = graft.util.Manifest.snapshot(dir)
    val invC = spark.read.parquet(snap.path("postings"))
    val sizesC = spark.read.parquet(snap.path("sizes"))
    val buckC0 = spark.read.parquet(snap.path("buckets"))
    // logical delete: tombstoned docs stop being CANDIDATES, which is
    // all that matters — the postings/sizes scans only ever see
    // candidate ids, so one anti-join covers the whole probe. The
    // stored bucket_n stays stale until compaction, which
    // is CONSERVATIVE: a bucket that crossed the cap while its
    // tombstones were live stays excluded until compaction.
    val buckC = PersistedIndex.applyTombstones(spark, snap, buckC0)
    val invB = invertedIndex(batch, idCol, textCol, w)
    val sigB = minhashBandsAgg(invB, k, bands)
      .persistRegistered()
    sigB.count() // eager: bucket probe AND size lookup
    // skew cap on the bucket's NEWEST stored count: appended rows
    // ([[minhashIndexAppend]]) carry the refreshed total while the
    // bucket's older rows keep their stale build-time value, so the
    // cap reads per-bucket MAX of the stored counts. The max is
    // PRE-AGGREGATED on a batch-bucket-restricted scan BEFORE the
    // candidate join — capping after the join would materialize a
    // mega-bucket's full |bucket|×|batch hits| candidate rows only to
    // drop them, the exact blow-up maxBucket exists to prevent (and a
    // per-ROW `bucket_n <= maxBucket` scan filter would miss a bucket
    // grown past the cap, whose over-cap newest row is filtered out
    // while its stale under-cap rows survive). Map-side combine
    // collapses the restricted scan to one row per probed bucket. On
    // a freshly built or compacted index every row agrees, so this is
    // the same cap the d19/d38/d39 oracles replay; delete-staleness
    // stays conservative (overcounts exclude, never admit).
    val batchBands = explodeBandBuckets(sigB, bands)
      .select(col("band"), col("bh"), col("id").as("id_a"))
    val okBuckets = buckC0
      .join(broadcast(batchBands.select(col("band"), col("bh")).distinct()),
        Seq("band", "bh"))
      .groupBy("band", "bh").agg(max(col("bucket_n")).as("_bn"))
      .where(col("_bn") <= maxBucket)
      .select(col("band"), col("bh"))
    val cand = buckC
      .join(broadcast(okBuckets), Seq("band", "bh"))
      .join(broadcast(batchBands), Seq("band", "bh"))
      .select(col("id_a"), col("id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // verify WITHOUT exchanging the index: candidate pairs × batch
    // postings are micro-batch-sized, so they broadcast onto single
    // scans of the index's postings and sizes tables — the generic
    // verifyJaccard would sort-merge the O(index) frames instead
    val candPost = cand
      .join(invB.select(col("id").as("id_a"), col("g")), "id_a")
    val shared = invC.select(col("id").as("id_b"), col("g"))
      .join(broadcast(candPost), Seq("id_b", "g"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
    val withA = shared
      .join(sigB.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
    sizesC.select(col("id").as("id_b"), col("n").as("n_b"))
      .join(broadcast(withA), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Append a batch of NEW documents to a persisted minhash index
    * WITHOUT rebuild. The signature pipeline is a pure per-document
    * function (shingles → minhash bands), so append ≡ fresh-build rows
    * for the appended docs exactly; `bucket_n` on the appended rows is
    * refreshed to (existing-in-bucket + batch-in-bucket) via one
    * batch-bucket-restricted scan, and [[minhashProbeIndex]]'s
    * per-bucket-max cap reads that newest value (older rows' stored
    * counts stay stale until compaction recounts — the documented
    * staleness contract). Idempotent and resurrecting through the
    * shared [[PersistedIndex.Family.append]] step: in-batch duplicate
    * ids collapse, each table gates the batch against its own existing
    * ids (a retry heals a partially-appended crash), and a re-ingested
    * TOMBSTONED id is scrubbed + dropped from the sidecar first. Same
    * equal-TEXT retry precondition as the vector families. */
  def minhashIndexAppend(
      batch: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int = 64, bands: Int = 16, w: Int = 3): Unit = {
    val invB = invertedIndex(batch.dropDuplicates(idCol), idCol, textCol, w)
    val sigB = minhashBandsAgg(invB, k, bands).persist()
    try {
      sigB.count()
      val buck = explodeBandBuckets(sigB, bands)
      MinhashFamily.append(batch.sparkSession, dir,
        sigB.select(col("id")).distinct(), Map(
          "postings" -> (_ => invB),
          "sizes" -> (_ => sigB.select(col("id"), col("n"))),
          "buckets" -> { existing =>
            // refreshed totals for the appended rows: one scan of the
            // index buckets restricted (broadcast) to the batch's own
            // (band, bh) set — bounded by the batch's bucket spread,
            // never a shuffle of the index
            val existingN = existing
              .join(broadcast(buck.select(col("band"), col("bh")).distinct()),
                Seq("band", "bh"))
              .groupBy("band", "bh").agg(count(lit(1)).as("_en"))
            val batchN = buck.groupBy("band", "bh")
              .agg(count(lit(1)).as("_bn"))
            buck
              .join(broadcast(batchN), Seq("band", "bh"))
              .join(broadcast(existingN), Seq("band", "bh"), "left")
              .withColumn("bucket_n",
                coalesce(col("_en"), lit(0L)) + col("_bn"))
              .drop("_en", "_bn")
          }))
    } finally sigB.unpersist()
  }

  /** Streaming minhash-index ingestion: each arriving micro-batch of
    * docs appends through the idempotent [[minhashIndexAppend]]. */
  def minhashIndexIngestStream(
      docs: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int = 64, bands: Int = 16, w: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    MinhashFamily.ingestStream(docs, dir)(b =>
      minhashIndexAppend(b, idCol, textCol, dir, k, bands, w))

  // ---- SimHash ----------------------------------------------------------

  /** Signature width = the informative width of [[pmd5]] (60 bits, 15
    * hex digits of md5). Votes beyond bit 59 would always see 0 —
    * bits 60–63 of every signature would be constant — so the
    * signature, the Hamming distances, and the pigeonhole blocking all
    * run explicitly 60-bit (4 chunks × 15 bits). */
  val SimhashBits = 60
  private val SimhashChunkBits = SimhashBits / 4 // 15-bit chunks, ≤3 recall

  /** 60-bit SimHash: per-token 60-bit [[pmd5]] hash votes +1/−1 per bit
    * position; sign of the per-bit sum forms the signature.
    * Order-insensitive. Folds over [[tokenHashes]] so each token is
    * hashed ONCE — the bit lambda sees the already-hashed long (an
    * inlined pmd5(t) there would re-hash the token once per bit, 60×
    * the work). */
  def simhash(text: Column): Column = simhashFromTokenHashes(tokenHashes(text))

  def simhashFromTokenHashes(th: Column): Column = {
    val votes = aggregate(
      th,
      array_repeat(lit(0), SimhashBits),
      (acc, h) => zip_with(
        acc,
        transform(
          sequence(lit(0), lit(SimhashBits - 1)),
          b => when(call_function("shiftright", h, b)
            .bitwiseAND(1) === 1, 1).otherwise(-1)),
        (a, v) => a + v))
    aggregate(
      zip_with(
        votes, sequence(lit(0), lit(SimhashBits - 1)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b))
          .otherwise(0L)),
      lit(0L),
      (acc, x) => acc.bitwiseOR(x))
  }

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash signatures via exploded token hashes + 60 tiny vote sums —
    * the same shape rationale as [[minhashBandsAgg]]: the one-expression
    * [[simhash]] nests a 60-wide lambda fold per token that evaluates
    * interpreted; this form is a codegen'd partial aggregation (the
    * shuffle moves (id, 60 ints)), identical bit-for-bit because the
    * per-bit vote sum is order-insensitive integer math. */
  private def simhashSigsAgg(
      docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = spread(docs0)
    def vote(b: Int) =
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$b")
    docs
      .select(col(idCol).as("id"), explode(tokenHashes(col(textCol))).as("th"))
      .groupBy("id")
      .agg(vote(0), (1 until SimhashBits).map(vote): _*)
      .select(
        col("id"),
        (0 until SimhashBits)
          .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce((a, b) => a.bitwiseOR(b))
          .as("sig"))
  }

  /** SimHash near-dup pairs within Hamming distance `maxDist` (≤ 3 for
    * guaranteed recall via the 4×15-bit pigeonhole), verified by
    * popcount(xor) — signatures are single longs, so both sides of the
    * chunk join move 16 bytes per row. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val sigs = simhashSigsAgg(docs, idCol, textCol)
      .persistRegistered()
    sigs.count() // eager: the chunk self-join reads it on both sides
    val chunked = sigs.select(
      col("id"), col("sig"),
      explode(array((0 until 4).map(c =>
        struct(
          lit(c).as("chunk"),
          shiftright(col("sig"), c * SimhashChunkBits)
            .bitwiseAND((1 << SimhashChunkBits) - 1).as("ch"))): _*))
        .as("c"))
      .select(col("id"), col("sig"), col("c.chunk").as("chunk"), col("c.ch").as("ch"))
    chunked.select(col("chunk"), col("ch"), col("id").as("id_a"), col("sig").as("sig_a"))
      .join(chunked.select(col("chunk"), col("ch"), col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("chunk", "ch"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sig_a"), col("sig_b")).as("dist"))
      .dropDuplicates("id_a", "id_b")
      .where(col("dist") <= maxDist)
  }

  // ---- n-gram Jaccard (exact, no sketch) --------------------------------

  /** Candidate pairs by ABSOLUTE shingle overlap: every (id_a, id_b)
    * sharing at least `minShared` distinct w-shingles, with the exact
    * shared count. The un-normalized companion to
    * [[ngramJaccardPairs]] (same inverted-index join, no size
    * normalization): absolute overlap is the edge criterion a
    * duplication GRAPH wants — a 40-token template pasted into a
    * 4,000-token page is invisible to Jaccard but is exactly the hub
    * edge [[Graph.pageRankInt]] scores. Same maxPostings skew guard —
    * NOTE the default 1000 cap drops hub-shingle postings, while the
    * d22/d23/d25 DuckDB oracles replay the UNCAPPED join: oracle
    * parity requires `maxPostings = Int.MaxValue` (those queries pass
    * it explicitly, the same contract [[ngramJaccardPairs]]'s uncapped
    * variant documents for d5). Production callers keep the cap.
    * Output: (id_a, id_b, shared) with id_a < id_b. */
  def shingleOverlapPairs(
      docs: DataFrame, idCol: String, textCol: String,
      minShared: Int, w: Int = 3, maxPostings: Int = 1000): DataFrame = {
    val inverted = invertedIndex(docs, idCol, textCol, w)
    val rare = inverted.groupBy("g").count()
      .where(col("count") <= maxPostings).drop("count")
    val capped = inverted.join(rare, Seq("g"))
    capped.select(col("g"), col("id").as("id_a"))
      .join(capped.select(col("g"), col("id").as("id_b")), Seq("g"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** SLICE-level distinct-shingle Jaccard overlap matrix — how much
    * raw text two corpus slices (domains, crawl snapshots, sources)
    * share, the audit a mixture designer reads before setting rates
    * (near-identical slices double-weight their content) and the
    * corpus-level companion to the DOC-level [[ngramJaccardPairs]].
    *
    * Set math over DISTINCT (slice, shingle-hash) rows: one explode +
    * distinct (the corpus-sized exchange, keyed on a 60-bit
    * [[pmd5]] so the shuffle carries ints, not gram strings), then an
    * inverted join whose per-gram fan-out is bounded by |slices| (a
    * gram contributes at most C(|slices|,2) pairs), and a
    * |slices|²-row tail. Jaccard in pure integers:
    * `shared·10⁶ div (na + nb − shared)` — no doubles anywhere.
    * Zero-overlap pairs are kept (matrix semantics, coalesced 0).
    *
    * Output: (source_a, source_b, na, nb, shared, jaccard_ppm),
    * source_a < source_b. */
  def sliceOverlapMatrix(
      docs: DataFrame, sliceCol: String, textCol: String, w: Int = 3)
      : DataFrame = {
    val sg = spread(docs)
      .select(col(sliceCol).as("s"),
        explode(shingles(col(textCol), w)).as("g"))
      .select(col("s"), pmd5(col("g")).as("h"))
      .distinct()
      .persistRegistered()
    sg.count() // eager: sizes + both join sides read one cache
    val sizes = sg.groupBy("s").agg(count(lit(1)).as("n"))
    val shared = sg.select(col("s").as("source_a"), col("h"))
      .join(sg.select(col("s").as("source_b"), col("h")), Seq("h"))
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared"))
    sizes.select(col("s").as("source_a"), col("n").as("na"))
      .crossJoin(broadcast(
        sizes.select(col("s").as("source_b"), col("n").as("nb"))))
      .where(col("source_a") < col("source_b"))
      .join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .withColumn("jaccard_ppm",
        expr("shared * 1000000 div (na + nb - shared)"))
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        col("shared"), col("jaccard_ppm"))
  }

  /** Persisted shingle-overlap edge artifact — the graph-family
    * analog of the minhash/sign-band/IVF/PQ persisted indexes: the
    * edge list of [[shingleOverlapPairs]] is a pure function of the
    * corpus and is consumed by EVERY graph computation over it
    * (PageRank hubs, personalized seed expansion, weighted variants,
    * components), so a production caller pays the shingle
    * inverted-index shuffle ONCE at ingest and every ranking job
    * starts from a parquet scan of (id_a, id_b, shared) — no
    * re-tokenization, no posting join, no pair aggregation. Params
    * ride a one-row side table (the ivfIndexWrite idiom) so a reader
    * can verify it probes the graph it thinks it does. */
  final case class EdgeIndex(
      w: Int, minShared: Int, maxPostings: Int, edges: DataFrame)

  /** Build the artifact: exactly [[shingleOverlapPairs]] with its
    * parameters recorded. */
  def edgeIndexBuild(
      docs: DataFrame, idCol: String, textCol: String,
      minShared: Int, w: Int = 3, maxPostings: Int = 1000): EdgeIndex =
    EdgeIndex(w, minShared, maxPostings,
      shingleOverlapPairs(docs, idCol, textCol, minShared, w, maxPostings))

  def edgeIndexWrite(index: EdgeIndex, dir: String): Unit = {
    index.edges.write.mode("overwrite").parquet(s"$dir/edges")
    val spark = index.edges.sparkSession
    import spark.implicits._
    Seq((index.w, index.minShared, index.maxPostings))
      .toDF("w", "min_shared", "max_postings")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
  }

  def edgeIndexRead(spark: SparkSession, dir: String): EdgeIndex = {
    val p = spark.read.parquet(s"$dir/params").head()
    EdgeIndex(p.getInt(0), p.getInt(1), p.getInt(2),
      spark.read.parquet(s"$dir/edges"))
  }

  /** Incremental-novelty profile: per document, how much of its
    * distinct w-shingle set is FIRST SEEN in that document, taking
    * ascending id as ingestion order — `novelty_e4 =
    * (novel·10000) div n_shingles`. The curation read: an exact dup of
    * anything earlier scores 0, pure boilerplate recombination scores
    * low, genuinely new content scores high — a cheap removal-priority
    * signal that needs no pair join at all. Two shuffles, both keyed
    * on the shingle hash (the min-id "first occurrence" agg reuses the
    * posting partitioning for the join back), then one id-keyed count:
    * nothing pairwise, nothing driver-side, linear at any corpus size.
    * Output: (id, n_shingles, novel, novelty_e4). */
  def noveltyProfile(
      docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3): DataFrame = {
    val inverted = invertedIndex(docs, idCol, textCol, w)
    val first = inverted.groupBy("g").agg(min(col("id")).as("first_id"))
    inverted.join(first, "g")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L))
          .as("novel"))
      .select(col("id"), col("n_shingles"), col("novel"),
        expr("(novel * 10000) div n_shingles").as("novelty_e4"))
  }

  /** Exact n-gram Jaccard for all pairs sharing ≥1 shingle, via
    * inverted-index join on shingle hashes. `|A∩B|` comes from counting
    * posting-list collisions per pair and `J = shared/(|A|+|B|−shared)`
    * — no array content ever re-joins. Posting lists longer than
    * `maxPostings` are dropped (stopword-gram skew guard; documented
    * recall trade, same as every production near-dup pipeline). */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, w: Int = 3, maxPostings: Int = 1000): DataFrame = {
    val inverted = invertedIndex(docs, idCol, textCol, w)
    val sizes = inverted.groupBy("id").agg(count(lit(1)).as("n"))
    val rare = inverted.groupBy("g").count()
      .where(col("count") <= maxPostings).drop("count")
    val capped = inverted.join(rare, Seq("g"))
    val shared = capped.select(col("g"), col("id").as("id_a"))
      .join(capped.select(col("g"), col("id").as("id_b")), Seq("g"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
    jaccardFromShared(shared, sizes, threshold)
  }

  /** SAMPLED exact n-gram Jaccard pairs — the audit-scale form of
    * [[ngramJaccardPairs]]: exact pairs restricted to those touching a
    * deterministic pmd5-sampled doc subset (`pmd5(id) % sampleMod ==
    * 0`, ~1/sampleMod of the corpus). The full exact formulation joins
    * the inverted index against ITSELF (every posting × every posting
    * — the audit cost BASELINE's round-10 probe measured going
    * super-linear on d34/t25), which cannot run at 100 TB; here only
    * the SAMPLED postings join against the full index, so ground-truth
    * cost is O(sample · corpus) — the published-recall-audit shape
    * (every production recall number is computed on a query sample).
    * pmd5 sampling is replayable on any engine (the md5 idiom), so the
    * sampled pair set — and every audit built on it — stays
    * hash-oracle-able, unlike a `rand()` sample.
    *
    * A pair with BOTH endpoints sampled arises from both join
    * orientations; postings dedupe on (g, id_a, id_b) before the
    * shared count so such pairs count each collision once. Uncapped
    * postings by default (audit exactness); production callers at
    * extreme skew can pass `maxPostings` like d5.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, J ≥ threshold,
    * at least one endpoint sampled. */
  def ngramJaccardPairsSampled(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, sampleMod: Long, w: Int = 3,
      maxPostings: Int = Int.MaxValue): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val inverted = invertedIndex(docs, idCol, textCol, w)
    val sizes = inverted.groupBy("id").agg(count(lit(1)).as("n"))
    val capped =
      if (maxPostings == Int.MaxValue) inverted
      else {
        val rare = inverted.groupBy("g").count()
          .where(col("count") <= maxPostings).drop("count")
        inverted.join(rare, Seq("g"))
      }
    // the one-sided join: sampled postings (~|inv|/mod rows) against
    // the full index, keyed on the shingle hash — never index × index
    val qPost = capped.where(pmd5(col("id")) % sampleMod === 0)
    val cand = qPost.select(col("g"), col("id").as("_q"))
      .join(capped.select(col("g"), col("id").as("_o")), Seq("g"))
      .where(col("_q") =!= col("_o"))
      .select(col("g"),
        least(col("_q"), col("_o")).as("id_a"),
        greatest(col("_q"), col("_o")).as("id_b"))
      .dropDuplicates("g", "id_a", "id_b")
    jaccardFromShared(
      cand.groupBy("id_a", "id_b").agg(count(lit(1)).as("shared")),
      sizes, threshold)
  }

  /** SAMPLED LSH recall audit — d34's methodology at the cost model a
    * 100 TB corpus allows: exact ground truth from
    * [[ngramJaccardPairsSampled]] (pairs touching the pmd5-sampled
    * query subset, O(sample·corpus)), the production d3 MinHash-LSH
    * pair set restricted to the same subset, recall in basis points
    * over the sampled pairs. The estimate is unbiased for the
    * corpus-wide recall (every doc is sampled with equal probability
    * 1/sampleMod, independent of content) and the entire computation —
    * sampling included — replays in SQL, so the recall NUMBER is
    * hash-oracled exactly like d34's exhaustive form.
    * Output: one row (n_queries, n_exact, n_lsh, n_hits, recall_e4). */
  def lshRecallSampled(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, sampleMod: Long = 8, w: Int = 3): DataFrame = {
    val sampled = pmd5(col(idCol)) % sampleMod === 0
    val nQ = docs.where(sampled)
      .agg(count(lit(1)).as("n_queries"))
    val ex = ngramJaccardPairsSampled(
      docs, idCol, textCol, threshold, sampleMod, w)
      .select(col("id_a"), col("id_b"), lit(1L).as("in_ex"))
    val lsh = minhashPairs(docs, idCol, textCol, threshold, w = w)
      .where((pmd5(col("id_a")) % sampleMod === 0) ||
        (pmd5(col("id_b")) % sampleMod === 0))
      .select(col("id_a"), col("id_b"), lit(1L).as("in_lsh"))
    ex.join(lsh, Seq("id_a", "id_b"), "full_outer")
      .agg(
        coalesce(sum(col("in_ex")), lit(0L)).as("n_exact"),
        coalesce(sum(col("in_lsh")), lit(0L)).as("n_lsh"),
        coalesce(sum(col("in_ex") * col("in_lsh")), lit(0L)).as("n_hits"))
      .crossJoin(broadcast(nQ))
      // zero exact pairs (a clean corpus, or an unlucky sample) is a
      // VACUOUS audit, not a broken one: recall over an empty truth set
      // is 10000, never a NULL from the integer div-by-zero
      .select(col("n_queries"), col("n_exact"), col("n_lsh"), col("n_hits"),
        expr("case when n_exact = 0 then 10000 " +
          "else n_hits * 10000 div n_exact end").as("recall_e4"))
  }

  /** SAMPLED recall audit of a PERSISTED minhash index
    * ([[minhashIndexWrite]]) probed by an arriving batch — d38's
    * methodology pointed at the production artifact instead of an
    * inline rebuild, so INDEX HEALTH (stale postings, skew-capped
    * buckets, band-count drift) is what's measured, continuously:
    *  - exact ground truth: the pmd5-sampled batch docs' postings
    *    against ONE scan of the index's postings table —
    *    O(sample · index), the published audit price, batch side
    *    broadcast so the index never shuffles;
    *  - production side: [[minhashProbeIndex]] on the same sampled
    *    docs (bit-identical to [[minhashPairsAgainstCorpus]],
    *    spec-pinned), restricted to the identical subset by
    *    construction;
    *  - recall in basis points over the sampled cross pairs, with
    *    d38's vacuous-recall guard (zero exact pairs ⇒ 10000, never a
    *    NULL).
    * Ids must be globally distinct across batch and index (the
    * [[minhashPairsAgainstCorpus]] contract). This is the per-batch
    * stage [[Curation.driftMonitorApply]] mounts when given an index
    * dir, so the d38 number a release audit reports is also watched
    * online between releases.
    * Output: one row (n_queries, n_exact, n_lsh, n_hits, recall_e4). */
  def indexRecallSampled(
      batch: DataFrame, idCol: String, textCol: String, dir: String,
      threshold: Double = 0.5, sampleMod: Long = 8, k: Int = 64,
      bands: Int = 16, maxBucket: Int = 1000, w: Int = 3): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val spark = batch.sparkSession
    val sampled = batch.where(pmd5(col(idCol)) % sampleMod === 0)
    val nQ = sampled.agg(count(lit(1)).as("n_queries"))
    val invB = invertedIndex(sampled, idCol, textCol, w)
    val sizesB = invB.groupBy("id").agg(count(lit(1)).as("n"))
    // sidecar-aware like the LSH side (minhashProbeIndex): the audit
    // must measure the SERVING index — with a live tombstone sidecar,
    // a raw postings read would count deleted docs as exact pairs the
    // probe correctly excludes, under-reporting recall and false-
    // alarming the health monitor. One anti-join on the postings scan
    // suffices: the sizes lookup only ever sees id_b values that
    // produced a shared-postings row.
    val snap = graft.util.Manifest.snapshot(dir)
    val invC = PersistedIndex.applyTombstones(spark, snap,
      spark.read.parquet(snap.path("postings")))
    val sizesC = spark.read.parquet(snap.path("sizes"))
    // exact cross-side pairs: shared-posting counts per (batch doc,
    // index doc), then the jaccardFromShared arithmetic verbatim with
    // per-side size frames — the batch-scale frames broadcast onto
    // single scans of the index's postings and sizes tables
    val shared = invC.select(col("id").as("id_b"), col("g"))
      .join(broadcast(invB.select(col("id").as("id_a"), col("g"))),
        Seq("g"))
      .where(col("id_a") =!= col("id_b")) // defense if ids ever collide
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
    val withA = shared.join(
      broadcast(sizesB.select(col("id").as("id_a"), col("n").as("n_a"))),
      "id_a")
    val ex = sizesC.select(col("id").as("id_b"), col("n").as("n_b"))
      .join(broadcast(withA), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), lit(1L).as("in_ex"))
    val lsh = minhashProbeIndex(sampled, idCol, textCol, dir,
      threshold, k, bands, maxBucket, w)
      .select(col("id_a"), col("id_b"), lit(1L).as("in_lsh"))
    ex.join(lsh, Seq("id_a", "id_b"), "full_outer")
      .agg(
        coalesce(sum(col("in_ex")), lit(0L)).as("n_exact"),
        coalesce(sum(col("in_lsh")), lit(0L)).as("n_lsh"),
        coalesce(sum(col("in_ex") * col("in_lsh")), lit(0L)).as("n_hits"))
      .crossJoin(broadcast(nQ))
      .select(col("n_queries"), col("n_exact"), col("n_lsh"), col("n_hits"),
        expr("case when n_exact = 0 then 10000 " +
          "else n_hits * 10000 div n_exact end").as("recall_e4"))
  }

  /** Asymmetric CONTAINMENT pairs — doc-inside-doc detection. Jaccard
    * normalizes by the UNION, so a short document pasted verbatim into
    * a long one scores near zero (40 shared shingles over a 4,000-
    * shingle union); containment normalizes by the SMALLER set,
    * `C = |A∩B| / min(|A|,|B|)`, which is 1.0 for any full inclusion
    * regardless of the size ratio — the quote/boilerplate-wrap/
    * excerpt case every corpus audit needs alongside symmetric
    * near-dup (the "containment MinHash" motivation, here exact).
    *
    * Same machinery as [[ngramJaccardPairs]]: one inverted index, the
    * rare-gram capped self-join, shared counts per pair — plus the two
    * set sizes that already ride the index. Score in pure integers
    * (`shared·10⁶ div least(n_a,n_b)` — parts-per-million, exactly
    * replayable), so the oracle needs no double tree at all. Posting
    * lists above `maxPostings` are dropped (skew guard, documented
    * recall trade; oracle parity passes Int.MaxValue like d5/d22).
    * Output: (id_a, id_b, n_a, n_b, shared, containment_ppm) with
    * id_a < id_b, containment_ppm ≥ `thresholdPpm`. */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      thresholdPpm: Long = 800000L, w: Int = 3,
      maxPostings: Int = 1000): DataFrame = {
    val inverted = invertedIndex(docs, idCol, textCol, w)
    val sizes = inverted.groupBy("id").agg(count(lit(1)).as("n"))
    val rare = inverted.groupBy("g").count()
      .where(col("count") <= maxPostings).drop("count")
    val capped = inverted.join(rare, Seq("g"))
    capped.select(col("g"), col("id").as("id_a"))
      .join(capped.select(col("g"), col("id").as("id_b")), Seq("g"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("containment_ppm",
        expr("shared * 1000000 div least(n_a, n_b)"))
      .where(col("containment_ppm") >= thresholdPpm)
      .select("id_a", "id_b", "n_a", "n_b", "shared", "containment_ppm")
  }

  /** Winnowing-based near-dup pairs: documents sharing ≥ `minShared`
    * winnowing fingerprints (TextAnalysis.winnowFingerprints). The MOSS
    * guarantee makes this a SUBSTRING-level detector — any shared run
    * of w+k-1 tokens forces a shared fingerprint — at ~2/(w+1) of the
    * full shingle index d5 builds, so the same inverted-index join
    * costs a fraction of the postings. Same skew discipline as d5:
    * posting lists above `maxPostings` (boilerplate fingerprints) are
    * dropped with a documented recall trade; the pair join carries ids
    * only. Output (id_a, id_b, shared) — exact and oracle-able. */
  def winnowPairs(
      docs: DataFrame, idCol: String, textCol: String,
      minShared: Int = 2, k: Int = 3, w: Int = 4,
      maxPostings: Int = 1000): DataFrame = {
    // persisted + eagerly populated like invertedIndex: the frame feeds
    // the postings count AND both sides of the pair self-join — lazy
    // caching would recompute the window pipeline per consumer
    val fps = TextAnalysis.winnowFingerprints(docs, idCol, textCol, k, w)
      .persistRegistered()
    fps.count()
    val rare = fps.groupBy("fp").count()
      .where(col("count") <= maxPostings).drop("count")
    val capped = fps.join(rare, Seq("fp"))
    capped.select(col("fp"), col("id").as("id_a"))
      .join(capped.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  // ---- edit-distance (fuzzy) near-dup -----------------------------------

  /** Edit-distance near-dup pairs over the normalized HEAD of each
    * document: pairs with `levenshtein(head_a, head_b) ≤ maxDist`,
    * where head = first `headLen` chars of the lower-cased,
    * whitespace-collapsed text. The head cap is what makes the exact
    * verify affordable — O(maxDist·headLen) per candidate with the
    * banded three-argument `levenshtein` (early-exit −1 beyond the
    * threshold), never O(doc²).
    *
    * Candidate generation is LOSSLESS PREFIX FILTERING (the ED-Join
    * scheme): by the q-gram count bound (one edit destroys ≤ q
    * positional grams), ed(a,b) ≤ d implies the multiset gram
    * intersection has ≥ |G| − q·d elements — so under any GLOBAL
    * total order on grams, the two heads' `q·d + 1` FIRST grams must
    * intersect (if the prefixes were disjoint, the intersection could
    * not reach the bound). Ordering by ascending corpus frequency
    * (tie: gram, occ) makes those prefixes the RAREST grams, whose
    * posting lists are short — the candidate join touches
    * Σ_rare cA·cB rows instead of the Σ_all c² an any-shared-gram
    * index pays (37M → ~10⁵ on the sf0.1 corpus; a low-entropy
    * vocabulary — exactly the LLM-pipeline shape — degenerates the
    * naive index to all-pairs). Multiset semantics are exact: grams
    * are occurrence-indexed in-row ((g, occ) with occ = #prior equal
    * grams, the q68 lambda), so repeated boilerplate grams can't
    * stand in for distinct ones. Lossless whenever `len ≥ q·(d+1)`
    * (count bound ≥ 1); 48-char-minimum documents satisfy it at the
    * q=8/d=3 defaults of the pack. `maxPostings` caps a prefix
    * posting list — the d5/d15 skew guard, the documented 100 TB
    * recall trade. Survivors prefilter on `|len_a − len_b| ≤ maxDist`
    * and verify with the banded three-argument `levenshtein`
    * (early-exit −1 beyond the threshold) — O(maxDist·headLen) per
    * candidate, never O(doc²). Output: (id_a, id_b, dist). */
  def fuzzyPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, headLen: Int = 64, q: Int = 8,
      maxPostings: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDist >= 0 && headLen > 0 && q > 1,
      s"fuzzyPairs: bad params (maxDist=$maxDist headLen=$headLen q=$q)")
    val norm = substring(
      lower(regexp_replace(trim(col(textCol)), "\\s+", " ")), 1, headLen)
    // persisted + eager like invertedIndex: feeds the gram index AND
    // both head lookups of the verify join
    val heads = spread(docs).select(col(idCol).as("id"), norm.as("h"))
      .persistRegistered()
    heads.count()
    val gramArr = transform(
      sequence(lit(1), greatest(length(col("h")) - (q - 1), lit(1))),
      i => col("h").substr(i, lit(q)))
    // occurrence index per gram: occ = 1-based rank of this position
    // among equal grams of the SAME head — (g, occ) keys give exact
    // multiset joins. r14: the previous in-row form (per element,
    // filter(slice(_ga, 1, i+1), == g)) was O(|grams|²) INTERPRETED
    // lambda evaluations per head and, uncached, ran twice (freq agg +
    // prefix join) — ~16M lambda element-evals per pass at sf0.1. The
    // keyed window computes the identical rank in one pass (positions
    // are unique per (id, g), so row_number is deterministic), and the
    // skinny (id, g, occ) frame persists for both consumers.
    val grams = heads
      .select(col("id"), posexplode(gramArr).as(Seq("_p", "g")))
      .withColumn("occ", row_number().over(
        Window.partitionBy(col("id"), col("g")).orderBy(col("_p"))))
      .select(col("id"), col("g"), col("occ"))
      .persistRegistered()
    grams.count() // eager: freq AND prefix read it
    val freq = grams.groupBy("g", "occ").count()
    // each head keeps only its q·d+1 globally-rarest grams; both
    // sides of a ≤d pair must share one of them
    val prefix = grams.join(freq, Seq("g", "occ"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("count"), col("g"), col("occ"))))
      .where(col("_rn") <= q * maxDist + 1 && col("count") <= maxPostings)
      .select(col("g"), col("occ"), col("id"))
    prefix.select(col("g"), col("occ"), col("id").as("id_a"))
      .join(prefix.select(col("g"), col("occ"), col("id").as("id_b")),
        Seq("g", "occ"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(heads.select(col("id").as("id_a"), col("h").as("_ha")), "id_a")
      .join(heads.select(col("id").as("id_b"), col("h").as("_hb")), "id_b")
      .where(abs(length(col("_ha")) - length(col("_hb"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("_ha"), col("_hb"), maxDist).cast("long").as("dist"))
      .where(col("dist").between(0, maxDist))
  }

  // ---- Bloom-prefiltered decontamination --------------------------------

  /** Exact shingle-level decontamination with a Bloom-filter prefilter —
    * the SCAN-SPEED screen for the small-reference-set / huge-corpus
    * case: which corpus docs contain ANY eval-set shingle, and how many
    * (cf. [[contamination]], which joins every corpus shingle against
    * the broadcast eval set to compute fractions; and
    * [[dedupAgainstCorpus]]'s shuffle anti-join for when BOTH sides are
    * data-scale).
    *
    * Shape at 100 TB: the eval side is aggregated once into a
    * `util.sketch.BloomFilter` (a distributed pass; the sketch is
    * ~1.2 bytes/key at 1% fpp — ~1 MB per million eval shingles, far
    * smaller than the hash set itself), which ships to every task as a
    * binary literal inside Spark's codegen'd `BloomFilterMightContain`
    * predicate. The corpus pass is then a pure MAP-SIDE scan filter —
    * no shuffle, no join state, for the vast majority of shingles a
    * real corpus/eval pair rejects (the fixture's tiny vocabulary makes
    * everything collide; production shingle spaces are ~2⁶⁰-sparse).
    * Only bloom survivors (true matches + the fpp tail) reach the
    * broadcast semi-join that restores EXACTNESS — blooms have no
    * false negatives, so prefilter + exact verify ≡ the plain
    * semi-join — and only verified (id, shingle) rows pay the one
    * skinny aggregation shuffle. Returns one row per contaminated
    * corpus doc: (id, hit_shingles). */
  def bloomDecontam(
      corpus: DataFrame, idCol: String, textCol: String,
      eval: DataFrame, evalTextCol: String,
      w: Int = 3, fpp: Double = 0.01): DataFrame =
    bloomProbe(corpus, idCol, textCol,
      bloomScreenBuild(eval, evalTextCol, w, fpp), w)

  /** The eval-side screen artifact: the serialized Bloom sketch plus
    * the exact distinct-shingle frame the verify join needs. Built once
    * per eval-set VERSION — [[bloomScreenWrite]]/[[bloomScreenRead]]
    * persist it like the minhash index, so production probes never
    * re-derive the eval side. */
  final case class BloomScreen(bytes: Array[Byte], shingles: DataFrame)

  /** Build the screen in memory (shingle frame persisted + eagerly
    * counted: the count sizes the sketch, the aggregate fills it).
    * Items are the 60-bit shingle hashes THEMSELVES (already uniform —
    * pmd5), inserted via putLong and probed via
    * BloomFilterMightContain's mightContainLong, a consistent pair; no
    * re-hash wrapper needed (measured ~15% faster than the
    * runtime-filter-style xxhash64 wrap at 100x). */
  def bloomScreenBuild(
      eval: DataFrame, evalTextCol: String,
      w: Int = 3, fpp: Double = 0.01): BloomScreen = {
    val evalShingles = eval
      .select(tokenHashes(col(evalTextCol)).as("th")) // two projections:
      .select(explode(shingleHashArray(col("th"), w)).as("g")) // no inline re-eval
      .distinct()
      .persistRegistered()
    val n = math.max(evalShingles.count(), 1L)
    val bloom = evalShingles.stat.bloomFilter(col("g"), n, fpp)
    val os = new java.io.ByteArrayOutputStream()
    bloom.writeTo(os)
    BloomScreen(os.toByteArray, evalShingles)
  }

  /** Persist a screen: the shingle frame as parquet + the sketch as a
    * one-row binary parquet (kept beside the shingles so the artifact
    * versions atomically with them). */
  def bloomScreenWrite(screen: BloomScreen, dir: String): Unit = {
    screen.shingles.write.mode("overwrite").parquet(s"$dir/shingles")
    val spark = screen.shingles.sparkSession
    import spark.implicits._
    Seq(Tuple1(screen.bytes)).toDF("bloom")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bloom")
  }

  def bloomScreenRead(
      spark: org.apache.spark.sql.SparkSession, dir: String): BloomScreen =
    BloomScreen(
      spark.read.parquet(s"$dir/bloom").head().getAs[Array[Byte]](0),
      spark.read.parquet(s"$dir/shingles"))

  /** The corpus half: map-side sketch filter, broadcast exact verify,
    * per-doc hit count (see [[bloomDecontam]] for the full shape). */
  def bloomProbe(
      corpus: DataFrame, idCol: String, textCol: String,
      screen: BloomScreen, w: Int = 3): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.ColumnBridge
    val corpusShingles = corpus
      .select(col(idCol).as("id"), tokenHashes(col(textCol)).as("th"))
      .select(col("id"), explode(shingleHashArray(col("th"), w)).as("g"))
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      Literal(screen.bytes, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(col("g"))))
    corpusShingles
      .where(mightContain)
      .join(broadcast(screen.shingles), Seq("g"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("hit_shingles"))
  }
}
