package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Caches.Registered

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the 100 TB design rule:
  *  - brute-force cosine top-k — exact baseline; one pass over the data
  *    (pure projection + TakeOrderedAndProject), no shuffle of the
  *    corpus, query vector shipped as a literal. At scale this is the
  *    per-partition top-k + driver merge Spark already does for
  *    `orderBy().limit(k)`.
  *  - random-hyperplane LSH ANN — signature is a pure projection;
  *    probing hits only matching buckets (equi-join / IN filter) so the
  *    scanned fraction drops to bucket_size/N. Hyperplanes are derived
  *    from a fixed seed → signatures are stable across runs and
  *    executors.
  *
  * Score-precision CONTRACT across the family: ranking/top-k APIs
  * (`cosineTopK`, `lshTopK`, `ivfTopK`, `knnJoin`, …) round scores to
  * e6 (6 decimals) before ordering — ties at the micro-unit are broken
  * by id, and the oracle replays the same rounding.
  * `cosineNearDupPairs` alone thresholds on the RAW unrounded cosine:
  * a threshold is a set-membership predicate, and rounding-before-
  * compare would admit pairs up to 5e-7 BELOW the threshold (and an
  * independent replay engine could disagree on exactly those). Callers
  * mixing the two surfaces must not compare raw thresholds against e6
  * scores.
  *
  * All vector math is `functions._` (`zip_with`, `aggregate`) in double
  * precision with a fixed left-to-right fold order — deterministic and
  * codegen-friendly, no UDFs.
  */
object Similarity {

  /** One-node array literal (r14): `typedlit(seq)` is a SINGLE Literal
    * where `array(xs.map(lit): _*)` is a CreateArray of |xs| Literal
    * children — the optimized plan is identical (ConstantFolding folds
    * CreateArray-of-foldables to that same Literal), but the analyzer
    * and optimizer walk the unfolded tree first, and Lloyd/PQ plans
    * carry k·dim ≈ 1,000+ such nodes PER ITERATION (~180 ms of driver
    * time per job in the s9/s34 profiles). */
  private[graft] def litArray(xs: Seq[Double]): Column = typedlit(xs)


  /** Dot product in double precision — a native codegen'd Expression
    * (graft.expr.VectorDot); the higher-order-function formulation
    * (`aggregate(zip_with(...))`) evaluates its lambda interpreted per
    * element and dominated every similarity operator's runtime. Fold
    * order and null semantics are identical. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expr.VectorDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** The ClickHouse vector-distance function family (`L1Distance`,
    * `L2Distance`, `LinfDistance`, `cosineDistance`) as pure column
    * expressions. These use the `zip_with`/`aggregate` HOFs, not
    * VectorDot: they sit in per-row pair scoring (one evaluation per
    * output row), not the corpus-scan hot path, and the HOF fold is
    * left-to-right in double — the same order DuckDB's `list_sum`
    * folds, so e6 floors of the results are engine-portable. */
  def l1Distance(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => abs(x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, d) => acc + d)

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, d) => acc + d))

  def linfDistance(a: Column, b: Column): Column =
    array_max(
      zip_with(a, b, (x, y) => abs(x.cast("double") - y.cast("double"))))

  def cosineDistance(a: Column, b: Column): Column = lit(1.0) - cosine(a, b)

  /** Semantic decontamination: corpus vectors whose best cosine against
    * ANY benchmark vector reaches `threshold` — the embedding-space
    * companion to `Dedup.contamination`'s n-gram overlap (catches
    * paraphrased/translated eval leakage that token overlap misses).
    * The benchmark BROADCASTS (eval sets are tiny relative to any
    * corpus); the corpus is scanned once and grouped per id for the
    * deterministic argmax (highest cosine, then lowest benchmark id).
    * Returns (id, bench_id, cos6) for flagged vectors only. */
  def semanticContamination(
      corpus: DataFrame, bench: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // zero-norm vectors carry no direction: excluded up front, on BOTH
    // sides — cosine would be 0/0 (an ANSI divide-by-zero error; NaN
    // on the oracle, where it would otherwise out-sort every real
    // value and flag the whole corpus off one zero benchmark vector)
    val b = broadcast(
      bench.select(col(idCol).as("b_id"), col(vecCol).as("b_v"))
        .where(norm(col("b_v")) > 0))
    corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .where(norm(col("v")) > 0)
      .crossJoin(b)
      .select(col("id"), col("b_id"),
        round(cosine(col("v"), col("b_v")), 6).as("cos6"))
      .groupBy("id")
      .agg(max(struct(col("cos6"), (-col("b_id")).as("nb"))).as("m"))
      .select(col("id"), (-col("m.nb")).as("bench_id"),
        col("m.cos6").as("cos6"))
      .where(col("cos6") >= threshold)
  }

  /** Exact top-k by cosine against a literal query vector. */
  def cosineTopK(
      vectors: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = litArray(query.map(_.toDouble))
    vectors
      .select(
        col(idCol).as("id"),
        round(cosine(col(vecCol), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** Matryoshka (prefix-dimension) two-stage retrieval: stage 1 scores
    * every vector on only its first `prefixDims` components — an
    * MRL-trained embedding packs most of its information into the
    * prefix, so the coarse scan does `prefixDims/dim` of the full
    * arithmetic (and with a prefix-sliced column laid out separately,
    * that fraction of the I/O) — and keeps the top `candidates` by the
    * s1 TakeOrderedAndProject shape (per-partition top-c, driver
    * merge; no shuffle of vectors). Stage 2 re-ranks ONLY those
    * candidates by full-dimension cosine. Both stages are
    * deterministic (e6-rounded cosine, id tiebreak), so the whole
    * pipeline is engine-replayable — the oracle contract is pipeline
    * equality, recall vs exact top-k is pinned separately in spec.
    * Output: (id, cos_e6 full-dim). */
  def matryoshkaTopK(
      vectors: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], prefixDims: Int, candidates: Int,
      k: Int): DataFrame = {
    val qPre = litArray(query.take(prefixDims).map(_.toDouble))
    val qFull = litArray(query.map(_.toDouble))
    vectors
      .select(col(idCol).as("id"), col(vecCol).as("_v"),
        round(cosine(slice(col(vecCol), 1, prefixDims), qPre), 6)
          .as("_pcos"))
      .orderBy(col("_pcos").desc, col("id").asc)
      .limit(candidates)
      .select(col("id"),
        round(cosine(col("_v"), qFull), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** Batch kNN join: for EVERY row of `queries`, the exact top-k
    * `corpus` rows by cosine — the bulk form of [[cosineTopK]] (one
    * query per literal doesn't scale to a probe batch). The query side
    * broadcasts (it is the small side by contract — a probe batch of
    * thousands against a corpus of billions), so the corpus is scanned
    * ONCE with no shuffle of vectors; scoring is a pure VectorDot
    * projection over the broadcast nested-loop rows.
    *
    * Top-k reduces in TWO phases, the groupBy analog of what
    * TakeOrderedAndProject does for a global limit: per input
    * partition, each query keeps its k best (sorted-slice over a
    * per-partition collect — bounded by k·|Q| rows per partition), and
    * only those survivors shuffle to the final per-query rank. The
    * exchanged frame is ≤ k·|partitions| rows per query of skinny
    * (qid, cid, score) triples — never the |corpus| scored rows.
    * Ordering ties break by neighbor id ascending (the s1 contract).
    * Output: (query_id, neighbor_id, cos_e6). */
  def knnJoin(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    // zero-norm gate on BOTH sides (the family discipline): a NaN
    // cosine would otherwise rank as a fabricated neighbor
    val q = broadcast(
      queries.select(col(idCol).as("_qid"), col(vecCol).as("_qv"))
        .where(norm(col("_qv")) > 0))
    // r15 (§2): widen-only repartition of the corpus side — the
    // |Q|·|corpus| scoring amplification runs AFTER the scan, so a
    // narrow input (one small parquet file ⇒ one task) serializes the
    // whole pairwise pass on one core; Dedup.spread is a no-op when
    // the scan is already cluster-wide. Results are layout-independent
    // (per-row scoring + the BoundedTopK aggregation).
    val scored = Dedup.spread(corpus
      .select(col(idCol).as("_cid"), col(vecCol).as("_cv"))
      .where(norm(col("_cv")) > 0))
      .join(q)
      .select(col("_qid"), col("_cid"),
        round(cosine(col("_cv"), col("_qv")), 6).as("_cos"))
    perQueryTopK(scored, k)
  }

  /** Hard-negative mining for contrastive training data: for each
    * query vector, the k MOST SIMILAR corpus vectors with a DIFFERENT
    * label — the highest-loss negatives an embedding model trains
    * against. Identical distribution shape to [[knnJoin]] (broadcast
    * queries, one corpus scan, two-phase top-k) with the label-
    * mismatch gate applied BEFORE the partial top-k, so same-label
    * rows never occupy candidate slots and the k negatives per query
    * are exact. The gate is NULL-SAFE (`not(<=>)`, SQL IS DISTINCT
    * FROM): an unlabeled corpus row IS a valid negative for a labeled
    * query and vice versa — a plain `=!=` would evaluate to NULL and
    * silently drop every pair touching an unlabeled row. Output:
    * (query_id, neighbor_id, cos_e6). */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("_qid"), col(vecCol).as("_qv"), col(labelCol).as("_ql"))
      .where(norm(col("_qv")) > 0)) // zero-norm gate, the family discipline
    // widen-only corpus-side repartition — see [[knnJoin]]
    val scored = Dedup.spread(corpus
      .select(col(idCol).as("_cid"), col(vecCol).as("_cv"),
        col(labelCol).as("_cl"))
      .where(norm(col("_cv")) > 0))
      .join(q)
      .where(not(col("_cl") <=> col("_ql")))
      .select(col("_qid"), col("_cid"),
        round(cosine(col("_cv"), col("_qv")), 6).as("_cos"))
    perQueryTopK(scored, k)
  }

  /** kNN label-noise screen (the Confident-Learning-shaped audit): for
    * every labeled vector, how many of its k nearest neighbors carry a
    * DIFFERENT label — high disagreement flags probable mislabels, the
    * label-quality gate a supervised/contrastive training set runs
    * before training. Exact baseline: corpus self-kNN via the s1/s10
    * machinery (broadcast query side, one corpus scan, two-phase
    * per-query top-k — the n² scoring collapses to k rows per query
    * BEFORE any shuffle); the self-pair drops by id inequality before
    * ranking, so exact-duplicate vectors still occupy neighbor slots
    * (they should — an identical vector with a different label is the
    * strongest noise signal). At corpus scales where n² scan time
    * binds, feed the SAME aggregation from the sign-LSH / IVF-cell
    * candidate generators (the s2/s4 contract applied to the screen).
    * Null-safe disagreement (IS DISTINCT FROM), the s15 discipline.
    * Output: (vec_id, label, n_disagree, disagree_e4). */
  def labelNoiseScreen(
      vectors: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // zero-norm vectors carry no direction (the semanticContamination
    // discipline): cosine would be 0/0 = NaN, which out-sorts every
    // real score in the DESC top-k. Excluded from BOTH roles — they
    // neither audit nor serve as neighbors, and emit no output row.
    val vecs = vectors.where(norm(col(vecCol)) > 0)
    val labels = vecs
      .select(col(idCol).as("_id"), col(labelCol).as("_l"))
    val q = broadcast(
      vecs.select(col(idCol).as("_qid"), col(vecCol).as("_qv")))
    // cosine is symmetric: score each unordered pair ONCE (the strict
    // half-matrix), persist the skinny (qid, cid, cos) frame eagerly,
    // and mirror it for the per-query ranking — half the VectorDot
    // work of the naive full matrix, measured 8.1 → 6.0 s at sf0.1.
    // r15 (§2): the half-matrix runs on the CORPUS scan's partitions —
    // one small parquet file means ONE task computes all n²/2 dots
    // (measured: a single 4.6 s task = the whole s17 stage at sf0.1);
    // the widen-only spread parallelizes the amplification and is a
    // no-op on already-wide inputs.
    val half = Dedup.spread(vecs
      .select(col(idCol).as("_cid"), col(vecCol).as("_cv")))
      .join(q)
      .where(col("_cid") < col("_qid"))
      .select(col("_qid"), col("_cid"),
        round(cosine(col("_cv"), col("_qv")), 6).as("_cos"))
      .persistRegistered()
    half.count() // eager: both union branches read this frame
    val scored = half.union(half.select(
      col("_cid").as("_qid"), col("_qid").as("_cid"), col("_cos")))
    disagreementRollup(perQueryTopK(scored, k), labels)
  }

  /** Cell-restricted label-noise screen — the SCALE PATH for
    * [[labelNoiseScreen]]: vectors k-means-assign once (the
    * [[ivfBuild]] machinery, one distributed agg per Lloyd iteration)
    * and the candidate self-join keys on the CELL id, so the scored
    * pairs are Σ|cell|² instead of n² — linear in n when `cells`
    * scales with corpus size (the SemDeDup recall trade: a true
    * nearest neighbor in another cell is invisible, bounded by cell
    * granularity). Oversized cells drop via `maxCell` (the universal
    * degenerate-skew guard; dropped members emit no row). Same
    * disagreement tail as the exact screen — on well-separated
    * clusters the two are spec-pinned EQUAL. */
  def labelNoiseScreenCells(
      vectors: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 10, cells: Int = 16,
      maxCell: Int = 10000, dim: Option[Int] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // zero-norm gate, same contract as the exact screen
    val vecs = vectors.where(norm(col(vecCol)) > 0)
    val labels = vecs
      .select(col(idCol).as("_id"), col(labelCol).as("_l"))
    val idx = ivfBuild(vecs, idCol, vecCol, k = cells, dim = dim)
    val assigned = idx.assigned
      .persistRegistered()
    assigned.count() // eager: both join sides read this frame
    val small = assigned.groupBy("c").count()
      .where(col("count") <= maxCell).drop("count")
    val inCell = assigned.join(small, Seq("c"))
    // same half-matrix + mirror trick as the exact path: cosine is
    // symmetric, so each in-cell unordered pair dots once
    val half = inCell
      .select(col("c"), col("id").as("_cid"), col("v").as("_cv"))
      .join(inCell.select(col("c"), col("id").as("_qid"),
        col("v").as("_qv")), Seq("c"))
      .where(col("_cid") < col("_qid"))
      .select(col("_qid"), col("_cid"),
        round(cosine(col("_cv"), col("_qv")), 6).as("_cos"))
      .persistRegistered()
    half.count() // eager: both union branches read this frame
    val scored = half.union(half.select(
      col("_cid").as("_qid"), col("_qid").as("_cid"), col("_cos")))
    disagreementRollup(perQueryTopK(scored, k), labels)
  }

  /** Shared tail: label both sides of a (query_id, neighbor_id, …)
    * top-k frame and roll up null-safe disagreement counts. The
    * fraction denominator is the ACTUAL scored-neighbor count per
    * query, not the requested k — in a small k-means cell (or a
    * corpus smaller than k+1) a vector has fewer than k neighbors,
    * and dividing by k would understate certain mislabels exactly
    * where the screen matters most. Output includes `n_nbrs` so the
    * caller can see thin-evidence rows. */
  private def disagreementRollup(
      topk: DataFrame, labels: DataFrame): DataFrame =
    topk
      .join(labels.withColumnRenamed("_id", "query_id"), "query_id")
      .join(
        labels.select(col("_id").as("neighbor_id"), col("_l").as("_nl")),
        "neighbor_id")
      .groupBy(col("query_id"), col("_l"))
      .agg(
        count(lit(1)).as("n_nbrs"),
        sum(when(not(col("_nl") <=> col("_l")), 1L).otherwise(0L))
          .as("n_disagree"))
      .select(
        col("query_id").as("vec_id"),
        col("_l").cast("long").as("label"),
        col("n_nbrs"),
        col("n_disagree"),
        expr("(n_disagree * 10000) div n_nbrs").as("disagree_e4"))

  /** Bounded per-query top-k over (_qid, _cid, _cos) rows — the
    * groupBy analog of TakeOrderedAndProject (see [[knnJoin]] doc),
    * with the bound enforced INSIDE the aggregation buffer: one
    * hash-aggregate on _qid whose partial state is a size-k heap
    * ([[graft.expr.BoundedTopK]]), so the map side holds at most k
    * entries per (query, partition) and the shuffle carries only the
    * surviving k-bounded states. The previous collect_list+slice
    * partial materialized every scored row of a group-partition at
    * once — the measured s17 exact-path OOM at a 20k corpus
    * (~400M scored rows through the partial lists; BASELINE.md).
    * Ranking is on the e6-rounded cosine as BIGINT (the family's
    * score contract — ordering over rounded-6 doubles and their e6
    * integers is identical, and integer compare sidesteps the ±0.0
    * total-order wrinkle). Ties break by neighbor id ascending (the
    * s1 contract). */
  private def perQueryTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // defense in depth behind the operators' zero-norm gates: a NaN
    // score maps to NULL (not a cast artifact) and BoundedTopK skips
    // null-score rows, so a NaN can never occupy a neighbor slot. The
    // id widens to BIGINT — the aggregate's (and the family output's)
    // type contract.
    val e6 = when(isnan(col("_cos")), lit(null))
      .otherwise(round(col("_cos") * 1e6)).cast("long")
    val top = ColumnBridge.column(
      graft.expr.BoundedTopK(
        ColumnBridge.expression(e6),
        ColumnBridge.expression(col("_cid").cast("long")),
        k).toAggregateExpression())
    scored
      .groupBy(col("_qid"))
      .agg(top.as("_top"))
      .select(col("_qid").as("query_id"), explode(col("_top")).as("_t"))
      .select(col("query_id"), col("_t.id").as("neighbor_id"),
        col("_t.score").as("cos_e6"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell &
    * Goldstein 1998): retrieve `k` results that balance query
    * relevance against redundancy with what is already selected —
    * the retrieval shape RAG context assembly and eval-set selection
    * want, where plain top-k returns five copies of the same
    * paragraph. Two phases with the 100 TB split between them:
    *
    *  1. CORPUS-SCALE (distributed): exact cosine top-`candidates`
    *     scan — the s1 TakeOrderedAndProject shape, one pass, no
    *     shuffle of vectors; then the candidates² pairwise sims via
    *     the same broadcast self-join `knnJoin` uses. Everything that
    *     touches n rows stays in the engine.
    *  2. QUERY-TIME CONSTANT (driver): greedy MMR selection over the
    *     collected candidate matrix — `candidates` defaults to 50, so
    *     the collect is ≤2,450 skinny rows and the greedy loop is
    *     O(candidates·k) integer ops, independent of corpus size (the
    *     BPE-argmax discipline: only constant-size reductions land on
    *     the driver).
    *
    * Integer-exact scoring so the oracle replays bit-for-bit: rel and
    * pairwise sims are the e6-rounded cosines (the family contract),
    * and the MMR objective is `lamTenths·rel − (10−lamTenths)·maxSim`
    * in e7 units (tenths of e6) — pure BIGINT, no float λ. The first
    * pick has no selected set, so its objective is `lamTenths·rel`
    * (pure relevance, the standard initialization). Ties break by id
    * ascending. Output: (rank, vec_id, rel_e6, mmr_e7). */
  def mmrTopK(
      vectors: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], candidates: Int = 50, k: Int = 5,
      lamTenths: Int = 7): DataFrame = {
    require(k >= 1 && candidates >= k, "need candidates >= k >= 1")
    require(lamTenths >= 0 && lamTenths <= 10, "lamTenths in [0,10]")
    val sp = vectors.sparkSession
    import sp.implicits._
    val q = litArray(query.map(_.toDouble))
    // zero-norm corpus vectors would score NaN (0/0) and out-sort
    // every real candidate; a NaN pairwise sim then NPEs the greedy
    // lookup — gated here like the rest of the family. A zero-norm
    // QUERY is a caller error (no direction to retrieve toward).
    val cand = vectors
      .where(norm(col(vecCol)) > 0)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        round(cosine(col(vecCol), q), 6).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(candidates)
      .persistRegistered()
    val rel: Seq[(Long, Long)] = cand
      .select(col("id"), round(col("cos") * 1e6).cast("long"))
      .collect().toSeq.map(r => r.getLong(0) -> r.getLong(1))
    val a = cand.select(col("id").as("ia"), col("v").as("va"))
    val b = cand.select(col("id").as("ib"), col("v").as("vb"))
    val sims: Map[(Long, Long), Long] = a.join(broadcast(b))
      .where(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        round(round(cosine(col("va"), col("vb")), 6) * 1e6).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    cand.unpersist(false)

    val relMap = rel.toMap
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var remaining = rel.map(_._1).toSet
    // k truncates to the candidates actually present (a corpus smaller
    // than k returns what exists, like any top-k)
    for (rank <- 1 to math.min(k, rel.size)) {
      val scored = remaining.toSeq.map { id =>
        // rank 1 is PURE relevance by definition (the standard MMR
        // initialization and the oracle's g1 stage) — scoring it as
        // λ·rel would degenerate to an id tiebreak at λ=0
        val mmr =
          if (chosen.isEmpty) relMap(id)
          else lamTenths * relMap(id) -
            (10L - lamTenths) * chosen.map(c => sims((id, c._2))).max
        (id, mmr)
      }
      val (bestId, bestMmr) = scored.minBy { case (id, m) => (-m, id) }
      chosen += ((rank, bestId, relMap(bestId),
        if (chosen.isEmpty) lamTenths * bestMmr else bestMmr))
      remaining -= bestId
    }
    chosen.toSeq.toDF("rank", "vec_id", "rel_e6", "mmr_e7")
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH signature: bit j = (v · h_j) >= 0. */
  def lshSignature(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, j) =>
      val pl = litArray(p)
      when(dot(vec, pl) >= 0, shiftleft(lit(1L), j)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** ANN top-k: restrict the exact scan to vectors whose LSH bucket is
    * within `probe` Hamming bits of the query's bucket, then rank those
    * by exact cosine. Recall/speed trades with nPlanes and probe. */
  def annTopK(
      vectors: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nPlanes: Int = 12, probe: Int = 4): DataFrame = {
    val dim = query.length
    val planes = hyperplanes(nPlanes, dim)
    // query signature computed driver-side with the same fold order
    val qSig = planes.zipWithIndex.map { case (p, j) =>
      val d = p.zip(query).map { case (h, v) => h * v }.sum
      if (d >= 0) 1L << j else 0L
    }.foldLeft(0L)(_ | _)
    val q = litArray(query.map(_.toDouble))
    vectors
      .withColumn("sig", lshSignature(col(vecCol), planes))
      .where(bit_count(col("sig").bitwiseXOR(lit(qSig))) <= probe)
      .select(
        col(idCol).as("id"),
        round(cosine(col(vecCol), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** Persisted sign-LSH band index — the SCALE PATH for [[annTopK]]:
    * the flat form recomputes every vector's signature and scans the
    * whole frame per query (linear — 5.8 s at 200k vectors and
    * growing, BASELINE.md ann probe). Here signatures are computed
    * ONCE into an index whose rows key on (band, bucket) chunk values;
    * a probe touches only the rows whose chunk equals one of the
    * query's `chunks` chunk values. The chunking is the d4/SimHash
    * PIGEONHOLE: any signature within Hamming distance ≤ chunks−1 of
    * the query's agrees with it on ≥1 whole chunk, so filtering the
    * bucket matches by the SAME `bit_count(xor) <= probe` predicate
    * reproduces the flat candidate set EXACTLY for probe ≤ chunks−1 —
    * the index is lossless, not approximately-recalled (spec-pinned
    * equal both sides of any routing threshold). Per-query scanned
    * fraction ≈ chunks/2^(nPlanes/chunks) of the corpus; at scale
    * write `buckets` partitioned by (band, bucket)
    * ([[signBandIndexWrite]]) and the equality predicate prunes to
    * matching parquet partitions — the probe never opens the rest. */
  final case class SignBandIndex(
      nPlanes: Int, chunks: Int, dim: Int, buckets: DataFrame)

  /** Build the band index: one pass over the corpus (signature = pure
    * projection), exploded into `chunks` (band, bucket) rows carrying
    * the full signature (for the exact Hamming filter) and the vector
    * (for the exact re-rank — at 100 TB keep vectors in the base table
    * and join by id instead; the fixture-scale index inlines them).
    * `nPlanes` must divide into `chunks` even slices. */
  def signBandIndexBuild(
      vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
      nPlanes: Int = 30, chunks: Int = 5): SignBandIndex = {
    require(nPlanes % chunks == 0, "chunks must divide nPlanes evenly")
    require(nPlanes <= 62, "signature must fit a positive Long")
    val width = nPlanes / chunks
    val mask = (1L << width) - 1
    val planes = hyperplanes(nPlanes, dim)
    val withSig = vectors
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", lshSignature(col("v"), planes))
    val bandStructs = (0 until chunks).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * width).bitwiseAND(mask).as("bucket"))
    }
    SignBandIndex(nPlanes, chunks, dim,
      withSig
        .select(col("id"), col("sig"), col("v"),
          explode(array(bandStructs: _*)).as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
          col("id"), col("sig"), col("v")))
  }

  /** The persisted sign-band family ([[PersistedIndex]]): `buckets`
    * partitioned by (band, bucket), `chunks` rows per member — band 0
    * holds exactly one, which is what the member count and the append
    * dup gate scan (an id already present produced the SAME signature,
    * a pure projection, so its band-0 row sits in one of the batch's
    * own band-0 buckets) — and the one-row `params` model table. */
  val SignBandFamily: PersistedIndex.Family = PersistedIndex.Family("band",
    Seq(PersistedIndex.Table("buckets", Seq("band", "bucket"))),
    model = Seq("params"), member = "buckets",
    memberRows = col("band") === 0)

  /** Persist / reload the index partitioned by (band, bucket) — the
    * layout that turns a probe's chunk-equality predicate into parquet
    * PARTITION PRUNING (params ride a one-row side table, the
    * ivfIndexWrite idiom). Ids cast to long: one physical id type for
    * the persisted layout, shared by the appends. */
  def signBandIndexWrite(index: SignBandIndex, dir: String): Unit = {
    val spark = index.buckets.sparkSession
    import spark.implicits._
    SignBandFamily.write(spark, dir,
      Map("buckets" -> index.buckets.withColumn("id", col("id").cast("long"))),
      Map("params" -> Seq((index.nPlanes, index.chunks, index.dim))
        .toDF("n_planes", "chunks", "dim")))
  }

  def signBandIndexRead(
      spark: SparkSession, dir: String): SignBandIndex = {
    // one snapshot: params + buckets + sidecar from a single state
    val snap = graft.util.Manifest.snapshot(dir)
    val p = spark.read.parquet(snap.path("params")).head()
    SignBandIndex(p.getInt(0), p.getInt(1), p.getInt(2),
      SignBandFamily.live(spark, snap, "buckets"))
  }

  /** Append to a PERSISTED band index WITHOUT rebuild. The signature
    * is a pure per-row projection over the deterministic hyperplanes
    * (parameterized by the persisted nPlanes/dim), so append ≡ rebuild
    * EXACTLY — no frozen-model approximation at all. New files land
    * only under the touched (band, bucket) partition dirs. Idempotent
    * and resurrecting through the shared
    * [[PersistedIndex.Family.append]] step, whose equal-content
    * precondition applies: a changed vector hashes to a different
    * band-0 bucket, escapes the pruned dup gate, and duplicates the id
    * permanently. */
  def signBandIndexAppend(
      spark: SparkSession, dir: String,
      arriving: DataFrame, idCol: String, vecCol: String): Unit = {
    // params only — reading the index frame here would pay a full
    // (band, bucket) file listing per append for three ints
    val p = spark.read
      .parquet(graft.util.Manifest.tablePath(dir, "params")).head()
    val rows = signBandIndexBuild(arriving.dropDuplicates(idCol), idCol,
      vecCol, p.getInt(2), p.getInt(0), p.getInt(1))
      .buckets.withColumn("id", col("id").cast("long")).persist()
    try SignBandFamily.append(spark, dir, rows.select(col("id")).distinct(),
      Map("buckets" -> (_ => rows)))
    finally rows.unpersist()
  }

  /** [[annTopK]] through a [[SignBandIndex]]: chunk-equality bucket
    * probe → exact Hamming gate → exact cosine rank. IDENTICAL results
    * to the flat scan at the index's nPlanes (pigeonhole — see
    * [[SignBandIndex]]), touching only matching buckets. Requires
    * `probe <= chunks - 1` (the losslessness bound). */
  def annTopKIndexed(
      index: SignBandIndex, query: Seq[Float], k: Int,
      probe: Int = 4): DataFrame = {
    require(probe <= index.chunks - 1,
      s"probe $probe exceeds the pigeonhole bound (chunks-1 = ${index.chunks - 1})")
    require(query.length == index.dim,
      s"query dim ${query.length} != index dim ${index.dim}")
    val width = index.nPlanes / index.chunks
    val mask = (1L << width) - 1
    val planes = hyperplanes(index.nPlanes, index.dim)
    val qSig = planes.zipWithIndex.map { case (p, j) =>
      val d = p.zip(query).map { case (h, v) => h * v }.sum
      if (d >= 0) 1L << j else 0L
    }.foldLeft(0L)(_ | _)
    val bucketHit = (0 until index.chunks).map { b =>
      col("band") === b && col("bucket") === ((qSig >> (b * width)) & mask)
    }.reduce(_ || _)
    val q = litArray(query.map(_.toDouble))
    index.buckets
      .where(bucketHit)
      .where(bit_count(col("sig").bitwiseXOR(lit(qSig))) <= probe)
      .select(col("id"), col("v"))
      .dropDuplicates("id") // a candidate may match several chunks
      .select(col("id"), round(cosine(col("v"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** BATCHED serving through a [[SignBandIndex]] — the s26/s28
    * broadcast-probe-frame shape applied to the last per-query ANN
    * path: [[annTopKIndexed]] re-reads the index once PER query, so a
    * |Q|-query retrieval batch pays |Q| index scans; here the index is
    * scanned ONCE for the whole batch. Each query's signature is
    * computed IN the query frame (the same [[lshSignature]] expression
    * the index build used — one fold-order contract across build,
    * per-query driver loop, and batch), exploded into its `chunks`
    * (band, bucket) probe rows, and the ≤ |Q|·chunks-row probe frame
    * BROADCASTS against the bucket table: the index is never shuffled.
    * The distinct probed (band, bucket) pairs are collected (bounded
    * by |Q|·chunks) and pushed as a LITERAL per-band bucket filter
    * ahead of the join, so on the [[signBandIndexWrite]] layout the
    * scan prunes to the probed partition directories STATICALLY — the
    * ivfTopKBatch pruning idiom. Same per-(query, candidate) contract
    * as the per-query path: exact Hamming gate `bit_count(xor) ≤
    * probe` (lossless at probe ≤ chunks−1 — the pigeonhole), chunk-
    * collision dedup, e6-rounded cosine, ties to the lower id
    * ([[perQueryTopK]]'s BoundedTopK — k-bounded partials, never a
    * global sort). Zero-norm queries are gated out (the family
    * discipline); zero-norm candidates score NaN and BoundedTopK
    * skips them. Output: (query_id, neighbor_id, cos_e6). */
  def annTopKIndexedBatch(
      index: SignBandIndex, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, probe: Int = 4): DataFrame = {
    require(probe <= index.chunks - 1,
      s"probe $probe exceeds the pigeonhole bound (chunks-1 = ${index.chunks - 1})")
    val width = index.nPlanes / index.chunks
    val mask = (1L << width) - 1
    val planes = hyperplanes(index.nPlanes, index.dim)
    val q = queries
      .select(col(idCol).as("_qid"), col(vecCol).as("_qv"))
      .where(norm(col("_qv")) > 0)
      .withColumn("_qsig", lshSignature(col("_qv"), planes))
    val chunkStructs = (0 until index.chunks).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("_qsig"), b * width).bitwiseAND(mask).as("bucket"))
    }
    val probes = q
      .select(col("_qid"), col("_qv"), col("_qsig"),
        explode(array(chunkStructs: _*)).as("_bb"))
      .select(col("_qid"), col("_qv"), col("_qsig"),
        col("_bb.band").as("band"), col("_bb.bucket").as("bucket"))
    // persisted: feeds the pruning collect AND the broadcast join
    val probesP = Caches.persisted(probes)
    val pairs = probesP.select(col("band"), col("bucket")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val bucketFilter = pairs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, bs) =>
        col("band") === b &&
          col("bucket").isin(bs.map(_._2.asInstanceOf[Any]).distinct: _*)
      }
      .reduceOption(_ || _).getOrElse(lit(false))
    val scored = index.buckets
      .where(bucketFilter)
      .join(broadcast(probesP), Seq("band", "bucket"))
      .where(bit_count(col("sig").bitwiseXOR(col("_qsig"))) <= probe)
      .select(col("_qid"), col("id"), col("v"), col("_qv"))
      .dropDuplicates("_qid", "id") // a candidate may match several chunks
      .select(col("_qid"), col("id").as("_cid"),
        round(cosine(col("v"), col("_qv")), 6).as("_cos"))
    perQueryTopK(scored, k)
  }

  /** IVF (inverted-file) index: k-means centroids trained with a few
    * Lloyd iterations (distributed assign + average; only the k×dim
    * centroid matrix ever reaches the driver), then each vector is
    * assigned to its nearest centroid. Queries probe the `nProbe`
    * nearest centroid lists only — the scanned fraction drops to
    * ~nProbe/k of the corpus, and the assignment column can be a
    * partition key at scale so a probe touches only matching files.
    */
  final case class IvfIndex(centroids: Seq[Seq[Double]], assigned: DataFrame)

  /** Seeded Gaussian centroid init — public so the generated Lloyd
    * replay oracles (KmeansOracle) inline the IDENTICAL constants. */
  def initialCentroids(k: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Seeded Gaussian PQ codebook init — (subspace)(code)(dim-in-sub);
    * public for the same oracle-inlining reason. */
  def initialCodebooks(
      m: Int, k: Int, subDim: Int, seed: Long = 42L)
      : Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)(Seq.fill(k)(Seq.fill(subDim)(rnd.nextGaussian())))
  }

  private def nearestCentroid(vec: Column, cents: Seq[Seq[Double]]): Column =
    nearestAmong(vec, cents.zipWithIndex.map { case (c, i) => (i, c) })

  /** argmax over an explicit (index, centroid) subset — struct-max on
    * (score, idx), so equal scores break to the HIGHER index (the
    * assignment-tie contract every oracle replays as
    * `ORDER BY sc DESC, ci DESC`). [[nearestStructAmong]] keeps the
    * whole (score, idx) struct so multi-probe routing can compare
    * bests ACROSS groups with the identical tie contract
    * (`greatest` on structs = field-wise, score first then idx). */
  private def nearestStructAmong(
      vec: Column, members: Seq[(Int, Seq[Double])]): Column = {
    val scored = members.map { case (ci, c) =>
      struct(
        (dot(vec, litArray(c)) / norm(vec)).as("score"),
        lit(ci).as("idx"))
    }
    array_max(array(scored: _*))
  }

  private def nearestAmong(
      vec: Column, members: Seq[(Int, Seq[Double])]): Column =
    nearestStructAmong(vec, members).getField("idx")

  /** Cell assignment for a `(id, v)` frame. Two physical shapes with
    * IDENTICAL semantics (same (score, idx) struct-max, so equal
    * scores break to the higher index on both paths — spec-pinned):
    * small k inlines the [[nearestCentroid]] expression tree (zero
    * joins, fully codegen'd); large k would blow that tree past the
    * JIT/codegen method limit (k literal arrays × k struct
    * comparisons — measured 10× slower at k≈150 when codegen falls
    * back to interpreted), so it switches to a BROADCAST join against
    * the k-row centroid table: N×k skinny scored rows, struct-max per
    * id, join back — still no shuffle of vectors. */
  private[graft] def assignCells(
      base: DataFrame, cents: Seq[Seq[Double]],
      inlineLimit: Int = 32): DataFrame =
    if (cents.size <= inlineLimit)
      base.withColumn("c", nearestCentroid(col("v"), cents))
    else {
      val spark = base.sparkSession
      val cdf = spark.createDataFrame(
        cents.zipWithIndex.map { case (c, i) => (i, c) })
        .toDF("_ci", "_cv")
      val assigned = base
        .crossJoin(broadcast(cdf))
        .select(col("id"),
          struct((dot(col("v"), col("_cv")) / norm(col("v")))
            .as("score"), col("_ci").as("idx")).as("_s"))
        .groupBy(col("id"))
        .agg(max(col("_s")).getField("idx").as("c"))
      base.join(assigned, "id")
    }

  /** Driver-side Lloyd over the k CENTROIDS themselves → r
    * super-centroids + a centroid→group map — the routing level of
    * two-level (IMI-style) assignment. Pure Scala on k×dim doubles
    * (k is driver-scale by construction), but every operation mirrors
    * the engine/oracle arithmetic EXACTLY so a SQL replay derives the
    * identical groups: dots/norms fold left-to-right in index order,
    * assignment ties break to the HIGHER group index (the struct-max
    * contract), means come from e6-integer sums (associative), empty
    * groups keep their previous super-centroid. */
  private[graft] def metaCentroids(
      cents: Seq[Seq[Double]], r: Int, iters: Int = 2,
      seed: Long = 42L): (Seq[Seq[Double]], Seq[Int]) = {
    require(cents.nonEmpty, "metaCentroids: no centroids")
    val dim = cents.head.size
    def dotD(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }
      s
    }
    def assign(sup: Seq[Seq[Double]]): Seq[Int] = cents.map { c =>
      val n = math.sqrt(dotD(c, c))
      sup.zipWithIndex
        .map { case (s, g) => (dotD(c, s) / n, g) }
        .reduceLeft((a, b) => if (b._1 >= a._1) b else a)
        ._2
    }
    var sup = initialCentroids(r, dim, seed)
    for (_ <- 0 until iters) {
      val asg = assign(sup)
      val byG = asg.zipWithIndex.groupBy(_._1)
        .map { case (g, m) => g -> m.map(_._2) }
      sup = sup.indices.map { g =>
        byG.get(g) match {
          case None => sup(g)
          case Some(members) =>
            val nd = members.size.toDouble
            (0 until dim).map { i =>
              // e6 quantization with Spark's ROUND semantics
              // (BigDecimal.valueOf HALF_UP — NOT math.round, whose
              // floor(x+0.5) differs on negative .5 boundaries), so
              // the SQL replay's round() agrees bit-for-bit
              val s = members.map(ci =>
                BigDecimal(cents(ci)(i) * 1e6)
                  .setScale(0, BigDecimal.RoundingMode.HALF_UP)
                  .toLong).sum
              s.toDouble / (nd * 1e6)
            }
        }
      }
    }
    (sup, assign(sup))
  }

  /** Two-level ROUTED cell assignment — vectors score the r
    * super-centroids first, then only the centroids in the winning
    * `probes` groups: n·(r + probes·k/r)·d work instead of n·k·d
    * (≈ n·3√k·d at r = √k, probes = 2). The routing is the published
    * IMI recall trade: a vector near a group boundary may land in a
    * different cell than flat assignment gives it — and at probes = 1
    * those boundary misses CONCENTRATE on the wrong group's edge
    * cells (the r11 probe measured max cell 4,113 routed vs 600 flat
    * at k=1562). `probes = 2` (IMI's multi-assignment) scores the
    * union of the top-2 groups' centroids and takes the global
    * struct-max, so a boundary vector whose true cell sits in the
    * runner-up group still lands there; the r12 probe measured this
    * restoring flat-build balance (max cell 622 vs 500 flat, Σ|cell|²
    * within 8%) at 1.3–1.9× single-probe assignment cost — still ~12×
    * below flat scoring at k=1562. Two physical shapes
    * like [[assignCells]]: small k inlines the whole route as
    * codegen'd when-chains (only r + probes·k/r DOTS evaluate per
    * row); large k routes through two BROADCAST joins (n·r then
    * n·probes·(group size) skinny scored rows — never a shuffle of
    * the vectors). Super-groups that won no centroid are excluded
    * from routing on both paths (a vector must route to a group that
    * can assign it). Ties everywhere break to the HIGHER index — one
    * contract across paths and probe counts, `ORDER BY sc DESC,
    * ci DESC` in the oracle replay. */
  private[graft] def assignCellsRouted(
      base: DataFrame, cents: Seq[Seq[Double]],
      supers: Seq[Seq[Double]], groupOf: Seq[Int],
      inlineLimit: Int = 32, probes: Int = 1): DataFrame = {
    require(groupOf.size == cents.size, "groupOf must map every centroid")
    require(probes == 1 || probes == 2,
      s"probes must be 1 or 2, got $probes") // 2 is the IMI standard;
    // more probes converge on flat-assignment cost without measured gain
    val present: Seq[Int] = groupOf.distinct.sorted
    val byGroup: Map[Int, Seq[(Int, Seq[Double])]] =
      cents.zipWithIndex
        .map { case (c, ci) => (groupOf(ci), (ci, c)) }
        .groupBy(_._1).map { case (g, m) => g -> m.map(_._2) }
    if (cents.size <= inlineLimit) {
      if (probes == 1 || present.size == 1) {
        val route = nearestAmong(
          col("v"), present.map(g => (g, supers(g))))
        val assignExpr = present.tail.foldLeft(
          nearestAmong(col("v"), byGroup(present.head))) { (acc, g) =>
          when(col("_g") === g, nearestAmong(col("v"), byGroup(g)))
            .otherwise(acc)
        }
        base.withColumn("_g", route)
          .withColumn("c", assignExpr)
          .drop("_g")
      } else {
        // top-2 route: the (score, gi) structs sorted desc — struct
        // ordering is (score, idx) field-wise, so element 1 equals the
        // single-probe struct-max (ties to the higher group) and
        // element 2 is the runner-up group
        val supStructs = present.map(g => struct(
          (dot(col("v"), litArray(supers(g))) / norm(col("v")))
            .as("score"),
          lit(g).as("idx")))
        val sorted = reverse(array_sort(array(supStructs: _*)))
        def bestIn(gcol: Column): Column = present.tail.foldLeft(
          nearestStructAmong(col("v"), byGroup(present.head))) { (acc, g) =>
          when(gcol === g, nearestStructAmong(col("v"), byGroup(g)))
            .otherwise(acc)
        }
        base
          .withColumn("_g1", element_at(sorted, 1).getField("idx"))
          .withColumn("_g2", element_at(sorted, 2).getField("idx"))
          // greatest on (score, idx) structs — the same tie contract as
          // the flat struct-max, now across the two probed groups
          .withColumn("c",
            greatest(bestIn(col("_g1")), bestIn(col("_g2")))
              .getField("idx"))
          .drop("_g1", "_g2")
      }
    } else {
      val spark = base.sparkSession
      val sdf = spark.createDataFrame(
        present.map(g => (g, supers(g)))).toDF("_gi", "_gv")
      val scoredSup = base
        .crossJoin(broadcast(sdf))
        .select(col("id"),
          struct((dot(col("v"), col("_gv")) / norm(col("v")))
            .as("score"), col("_gi").as("idx")).as("_s"))
      val routed =
        if (probes == 1 || present.size == 1)
          scoredSup
            .groupBy(col("id"))
            .agg(max(col("_s")).getField("idx").as("_g"))
        else
          // top-2 per id: collect the r (score, gi) structs (r = √k —
          // driver-bounded per row), sort desc, keep 2, explode. The
          // sort makes collect_list's arrival order irrelevant; the
          // groups are distinct so the slice is unambiguous.
          scoredSup
            .groupBy(col("id"))
            .agg(slice(sort_array(collect_list(col("_s")), asc = false),
              1, probes).as("_gs"))
            .select(col("id"), explode(col("_gs")).as("_t"))
            .select(col("id"), col("_t").getField("idx").as("_g"))
      val cdf = spark.createDataFrame(
        cents.zipWithIndex.map { case (c, ci) => (ci, groupOf(ci), c) })
        .toDF("_ci", "_cgi", "_cv")
      val assigned = base.join(routed, "id")
        .join(broadcast(cdf), col("_g") === col("_cgi"))
        .select(col("id"),
          struct((dot(col("v"), col("_cv")) / norm(col("v")))
            .as("score"), col("_ci").as("idx")).as("_s2"))
        .groupBy(col("id"))
        .agg(max(col("_s2")).getField("idx").as("c"))
      base.join(assigned, "id")
    }
  }

  /** Deterministic Lloyd training sample — the FAISS discipline:
    * codebooks/centroids train on ~`cap` points (default 50·k), the
    * full corpus only pays ASSIGNMENT passes. The sample is the `cap`
    * ids smallest under pmd5 (content-keyed, partition-independent —
    * a TakeOrdered, never a full sort), so an independent engine
    * replays the identical subset and the Lloyd oracles stay exact;
    * when n ≤ cap the sample IS the corpus and nothing changes. */
  /** FAISS's ~50 training points per centroid/code — the ONE
    * definition both the engine builds and the KmeansOracle replay
    * CTEs derive the default cap from (`min(n, 50·k)`): the
    * engine/oracle hash equivalence depends on the two sides agreeing
    * on the cap, so it must not be duplicated. */
  val LloydSamplePointsPerCentroid: Int = 50

  /** Resolved training cap: explicit `trainCap` wins, else 50·k. */
  private[ext] def lloydTrainCap(trainCap: Int, k: Int): Int =
    if (trainCap > 0) trainCap else LloydSamplePointsPerCentroid * k

  private[graft] def trainSampleFrame(base: DataFrame, cap: Int): DataFrame =
    base
      .withColumn("_ord", Dedup.pmd5(col("id").cast("string")))
      .orderBy(col("_ord"), col("id"))
      .limit(cap)
      .drop("_ord")

  /** Above this k, Lloyd TRAINING (and the final corpus assignment)
    * switch from flat n·k scoring to two-level routed scoring — the
    * r11 probe measured flat training at 279 s for k=1562 (cap=50·k
    * sample × k centroids ≈ the n·k ~ n² term at corpus-pinned k,
    * exactly the cost the semDedup docstring warned about), vs ~n·2√k
    * routed. Below the threshold flat is cheaper AND is the form every
    * trained-index oracle (s4/s6/s7/s9/d18 — all k ≤ 16) replays, so
    * pack hashes are untouched; above it no oracle vehicle exists
    * (corpus-pinned k is a probe/production config) and the routed
    * trajectory is the documented IMI-style approximation. */
  val RoutedTrainThreshold: Int = 256

  /** Super-groups a routed vector probes ([[assignCellsRouted]]):
    * IMI multi-assignment with the top-2 groups. Single-probe routing
    * piles boundary misses onto the wrong group's edge cells — the
    * r11 probe measured max cell 4,113 vs 600 flat at k=1562 — and at
    * corpus-pinned k those oversized cells are EXCLUDED from semDedup
    * pair scoring (`cell_capped`), so skew silently widens the no-op
    * slice of the corpus. With 2 probes in BOTH training and
    * assignment the r12 probe measured max cell 622 / Σ|cell|² 44.1M
    * vs the same-centroid flat assignment's 500 / 40.7M (within 8%;
    * r11's single-probe skew: 4,113 / 71.9M) at 1.3–1.9× the
    * single-probe assignment cost (12.5–18.7 s vs 9.4–9.7 s at
    * 100×/k=1562) — still ~12× below flat scoring (152–245 s). */
  val RouteProbesBalanced: Int = 2

  def ivfBuild(
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 3, seed: Long = 42L,
      dim: Option[Int] = None, trainCap: Int = 0,
      routedAbove: Int = RoutedTrainThreshold,
      routeProbes: Int = 0): IvfIndex = {
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    // dim probe only when the caller doesn't know it — at 100 TB the
    // probe is a full column scan before the first Lloyd pass starts
    val dimV = dim.getOrElse {
      val dimRow = base.agg(max(size(col("v")))).head()
      require(!dimRow.isNullAt(0),
        "ivfBuild: empty or all-null vector input") // clean error, not NPE
      dimRow.getInt(0)
    }
    val cap = lloydTrainCap(trainCap, k)
    val train = trainSampleFrame(base, cap)
      .persistRegistered()
    train.count()
    // two-level routed scoring above the threshold: the centroid-side
    // meta-Lloyd is a driver-scale pure function of the CURRENT
    // centroids (recomputed per iteration as they move), so the
    // routed trajectory is just as deterministic as the flat one —
    // same integer-sum means, same tie contract — only approximate in
    // WHICH cell a boundary vector lands (the IMI trade).
    val routed = k > routedAbove
    // whenever this build routes, it routes BALANCED (top-2 groups) by
    // default — the routed regime exists for corpus-pinned k, exactly
    // where single-probe boundary skew bites; explicit routeProbes > 0
    // overrides (the skew-probe's before/after lever)
    val rp = if (routeProbes > 0) routeProbes else RouteProbesBalanced
    def assignFn(src: DataFrame, cents: Seq[Seq[Double]]): DataFrame =
      if (!routed) assignCells(src, cents)
      else {
        val r = math.ceil(math.sqrt(k.toDouble)).toInt
        val (sup, grp) = metaCentroids(cents, r)
        assignCellsRouted(src, cents, sup, grp, probes = rp)
      }
    var cents: Seq[Seq[Double]] = initialCentroids(k, dimV, seed)
    for (_ <- 0 until iters) {
      // assign + per-cluster mean: one distributed pass, k×dim values
      // back to the driver. Coordinates are e6-quantized to EXACT
      // integer sums before averaging: a double sum's value depends on
      // partition/merge order (non-associative), so centroids — and
      // with them every downstream assignment, probe and candidate set
      // — would not be reproducible across partitionings or engines.
      // Integer sums are associative; the single division
      // s/(n·10⁶) is then one deterministic double op, which is what
      // makes the s4/s6/d18 full-replay DuckDB oracles possible.
      val assigned = assignFn(train, cents)
      val sums = assigned
        .groupBy("c")
        .agg(
          count(lit(1)).as("n"),
          array((0 until dimV).map(i =>
            sum(round(element_at(col("v"), i + 1).cast("double") * 1e6)
              .cast("long")).as(s"s$i")): _*)
            .as("sums"))
        .collect()
      val updated = sums.map { r =>
        val c = r.getInt(0)
        val nd = r.getLong(1).toDouble
        c -> r.getSeq[Long](2).map(s => s.toDouble / (nd * 1e6))
      }.toMap
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i)))
    }
    train.unpersist()
    IvfIndex(cents, assignFn(base, cents))
  }

  /** The persisted IVF family ([[PersistedIndex]]): `assigned`
    * partitioned by cell id, one row per member, beside the tiny
    * `centroids` model table. */
  val IvfFamily: PersistedIndex.Family = PersistedIndex.Family("ivf",
    Seq(PersistedIndex.Table("assigned", Seq("c"))),
    model = Seq("centroids"), member = "assigned")

  private def centroidFrame(
      spark: SparkSession, cents: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (v, c) => (c, v) }.toDF("c", "vec")
  }

  private def centroidsAt(
      spark: SparkSession, snap: graft.util.Manifest.Snapshot)
      : Seq[Seq[Double]] =
    spark.read.parquet(snap.path("centroids")).orderBy("c").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("vec"))).toSeq

  /** Persist an IVF index under `dir`: a tiny `centroids` table plus
    * `assigned` PARTITIONED BY cell id — the layout that makes the
    * 100 TB claim literal: [[ivfTopK]]'s cell filter becomes parquet
    * PARTITION PRUNING on the persisted form (PlanSpec-gated), so one
    * query reads ~nProbe/k of the index and the index is never
    * shuffled or rebuilt per query. Ids cast to long: ONE physical id
    * type for the persisted layout, whatever the caller's id column
    * was — the appends write the same cast, so a mixed INT32/INT64
    * dataset can never arise. */
  def ivfIndexWrite(index: IvfIndex, dir: String): Unit = {
    val spark = index.assigned.sparkSession
    IvfFamily.write(spark, dir,
      Map("assigned" ->
        index.assigned.withColumn("id", col("id").cast("long"))),
      Map("centroids" -> centroidFrame(spark, index.centroids)))
  }

  /** Load a persisted IVF index. Centroid doubles round-trip parquet
    * exactly, so probes/assignments equal the in-memory index's. If a
    * tombstone sidecar exists, the assignment is served MINUS the
    * tombstones (broadcast anti-join — the logical delete is visible
    * immediately, before any compaction). */
  def ivfIndexRead(
      spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex = {
    // ONE manifest snapshot for centroids + assigned + sidecar: the
    // whole read is a single consistent index state even if a
    // maintenance flip lands mid-call
    val snap = graft.util.Manifest.snapshot(dir)
    IvfIndex(centroidsAt(spark, snap), IvfFamily.live(spark, snap, "assigned"))
  }

  /** Append to a PERSISTED IVF index without retraining: arriving
    * vectors are assigned with the FROZEN on-disk centroids (the regime
    * the build used — append-then-read ≡ in-memory [[ivfAppend]],
    * spec-pinned) and appended into the cell-partitioned `assigned`,
    * new files only under the touched cells. IDEMPOTENT and
    * resurrecting through the shared [[PersistedIndex.Family.append]]
    * step — the foreachBatch unit — with its equal-vector retry
    * precondition (a changed vector can land in another cell and
    * escape the pruned dup gate; updates go delete → compact →
    * append). */
  def ivfIndexAppendIdempotent(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      arriving: DataFrame, idCol: String, vecCol: String): Unit = {
    // in-batch id dedup too: an at-least-once upstream can deliver the
    // same id twice WITHIN one micro-batch — without this both copies
    // survive the against-index anti-join and the duplication becomes
    // permanent (a later retry appends nothing, so it never heals)
    val base = arriving.select(
      col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .dropDuplicates("id")
    // plain persist/unpersist, NOT Caches.persisted: the registry
    // holds strong references until release(), and a long-lived
    // ingestion stream calls this once per micro-batch — registering
    // every batch's plan would leak one frame per batch for the
    // stream's lifetime
    val assigned = assignWithBuildRegime(base,
      centroidsAt(spark, graft.util.Manifest.snapshot(dir))).persist()
    try IvfFamily.append(spark, dir, assigned.select(col("id")),
      Map("assigned" -> (_ => assigned)))
    finally assigned.unpersist()
  }

  /** Sampled SELF-recall of an IVF index — the s31 release-audit
    * discipline mounted on the index artifact itself (no external
    * query stream needed; [[ivfIndexRetrain]] runs it on both sides of
    * a cutover): queries are the pmd5 `sampleMod`-sampled members,
    * truth is the exact top-k within the `corpusMod`-sampled member
    * universe, and the served side is the IVF probe restricted to the
    * SAME universe (a sampled member's cell routing is unchanged — a
    * pure candidate-universe cut). `sampleMod` must be a multiple of
    * `corpusMod` so every query keeps its self-neighbor. Cost: the
    * exact side is (|members|/sampleMod)·(|members|/corpusMod) dots —
    * both knobs price the audit. One row:
    * (n_queries, n_exact, n_approx, n_hits, recall_e4). */
  private[graft] def ivfRecallSampledRow(
      idx: IvfIndex, sampleMod: Long, corpusMod: Long,
      k: Int, nProbe: Int, maxQueries: Int = 2000): DataFrame = {
    require(sampleMod % corpusMod == 0,
      s"sampleMod $sampleMod must be a multiple of corpusMod $corpusMod" +
        " (queries must keep their self-neighbor)")
    val members = idx.assigned
    val sampledCorpus =
      members.where(Dedup.pmd5(col("id")) % corpusMod === 0)
    // maxQueries bounds the query side ABSOLUTELY (deterministic
    // pmd5-ordered limit): without it the exact side is
    // |members|²/(sampleMod·corpusMod) — QUADRATIC in index size;
    // capped, the audit is ≤ maxQueries·|members|/corpusMod dots —
    // linear
    val qs = members
      .where(Dedup.pmd5(col("id")) % sampleMod === 0 &&
        norm(col("v")) > 0)
      .select(col("id"), col("v"))
      .orderBy(Dedup.pmd5(col("id")), col("id"))
      .limit(maxQueries)
    val ex = knnJoin(qs, sampledCorpus.select(col("id"), col("v")),
      "id", "v", k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_ex"))
    val ap = ivfTopKBatch(idx.copy(assigned = sampledCorpus), qs,
      "id", "v", k = k, nProbe = nProbe)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_ap"))
    val nQ = qs.agg(count(lit(1)).as("n_queries"))
    ex.join(ap, Seq("query_id", "neighbor_id"), "full_outer")
      .agg(
        coalesce(sum(col("in_ex")), lit(0L)).as("n_exact"),
        coalesce(sum(col("in_ap")), lit(0L)).as("n_approx"),
        coalesce(sum(col("in_ex") * col("in_ap")), lit(0L)).as("n_hits"))
      .crossJoin(broadcast(nQ))
      .select(col("n_queries"), col("n_exact"), col("n_approx"),
        col("n_hits"),
        expr("case when n_exact = 0 then 10000 " +
          "else n_hits * 10000 div n_exact end").as("recall_e4"))
  }

  /** RETRAIN-AND-CUTOVER — the release-cadence lifecycle the append
    * path defers to (frozen-centroid appends accumulate recall drift;
    * the audits watch it; this is the remediation): build a NEW index
    * from the current corpus BESIDE the serving one, run the sampled
    * recall A/B over both (old audited through the live dir —
    * sidecar-applied — new over its fresh assignment), then cut over
    * with ONE manifest flip (centroids + assigned swap together; the
    * old sidecar retires — the new build's membership already
    * reflects deletions). Serving is never interrupted: a reader
    * resolves either the complete old index or the complete new one,
    * and the old versions remain on disk for one further flip — the
    * rollback window (flip the manifest back to restore wholesale).
    * Returns the A/B report, MATERIALIZED before the flip:
    * (side 'old'/'new', n_queries, n_exact, n_approx, n_hits,
    * recall_e4) — the go/no-go record a release pipeline gates on. */
  def ivfIndexRetrain(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 3, seed: Long = 42L,
      dim: Option[Int] = None, trainCap: Int = 0,
      sampleMod: Long = 8, corpusMod: Long = 2,
      kAudit: Int = 10, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val newIdx0 = ivfBuild(vectors, idCol, vecCol, k, iters, seed,
      dim, trainCap)
    val newAsg = newIdx0.assigned
      .withColumn("id", col("id").cast("long")).persist()
    try {
      newAsg.count()
      val newIdx = newIdx0.copy(assigned = newAsg)
      val oldIdx = ivfIndexRead(spark, dir)
      def audit(side: String, idx: IvfIndex): Array[(String, Long, Long,
          Long, Long, Long)] =
        ivfRecallSampledRow(idx, sampleMod, corpusMod, kAudit, nProbe)
          .collect().map(r => (side, r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4)))
      // both sides collected BEFORE the flip: the old index's files
      // are only grace-protected for one further publish, and the
      // report must describe the state the cutover decision saw
      val report = audit("old", oldIdx) ++ audit("new", newIdx)
      graft.util.Manifest.publishTables(spark,
        java.nio.file.Paths.get(dir),
        IvfFamily.writers(Map("assigned" -> newAsg),
          Map("centroids" -> centroidFrame(spark, newIdx.centroids))),
        drop = Seq("tombstones"))
      report.toSeq.toDF(
        "side", "n_queries", "n_exact", "n_approx", "n_hits", "recall_e4")
    } finally newAsg.unpersist()
  }

  /** Grow an IVF index WITHOUT retraining — the production index-
    * maintenance path: a 100 TB deployment re-trains centroids at
    * release cadence (ivfBuild pays the Lloyd passes), but vectors
    * arrive continuously; each arriving batch is assigned with the
    * FROZEN centroids ([[assignCells]] — the identical struct-max
    * expression the build used, so `append(build(old), new).assigned`
    * row-for-row equals `build-assign(old ∪ new)` under the same
    * centroids; spec-pinned) and unioned into the cell lists. No
    * corpus rescan, no shuffle of the existing index: the only work
    * is |batch|·k centroid scores. Recall drift from a frozen
    * codebook is what the s26/s31 audits watch at release cadence. */
  def ivfAppend(
      index: IvfIndex, arriving: DataFrame,
      idCol: String, vecCol: String): IvfIndex = {
    val base = arriving.select(col(idCol).as("id"), col(vecCol).as("v"))
    IvfIndex(index.centroids,
      index.assigned.unionByName(
        assignWithBuildRegime(base, index.centroids)))
  }

  /** Assignment under the regime [[ivfBuild]] uses for this k: flat
    * struct-max at or below [[RoutedTrainThreshold]], top-2 routed
    * (IMI) above it. [[metaCentroids]] is a pure deterministic
    * function of the centroids, so an appended batch lands EXACTLY
    * where the build's own final assignment pass would have put it —
    * append ≡ rebuild-assignment in BOTH regimes (a flat append onto
    * a routed build would both break that identity for boundary
    * vectors and pay \|batch\|·k scores where the build pays
    * ~\|batch\|·3√k). Builds made with non-default
    * `routedAbove`/`routeProbes` must append with matching values. */
  private[graft] def assignWithBuildRegime(
      src: DataFrame, cents: Seq[Seq[Double]],
      routedAbove: Int = RoutedTrainThreshold,
      routeProbes: Int = 0): DataFrame =
    if (cents.size <= routedAbove) assignCells(src, cents)
    else {
      val r = math.ceil(math.sqrt(cents.size.toDouble)).toInt
      val (sup, grp) = metaCentroids(cents, r)
      assignCellsRouted(src, cents, sup, grp,
        probes = if (routeProbes > 0) routeProbes else RouteProbesBalanced)
    }

  /** Delete vectors from an IVF index — tombstone propagation (dedup
    * survivors replacing their duplicates, takedowns, right-to-be-
    * forgotten): an anti-join of the cell lists against the tombstone
    * id set. The centroids are untouched (they are statistics, not
    * members), so serving semantics for every surviving vector are
    * unchanged — a pruned cell simply promotes the next-best member
    * into the top-k (spec-pinned). The tombstone side is BROADCAST
    * explicitly — the index side is corpus-scale and must NEVER
    * shuffle for a delete (an un-hinted sort-merge anti-join would
    * exchange the whole index, the one plan shape that cannot
    * survive 100 TB); tombstone sets are release-scale (takedown /
    * survivor lists), and one too large to broadcast should be
    * applied in broadcastable slices. */
  def ivfDelete(
      index: IvfIndex, tombstones: DataFrame, idCol: String): IvfIndex =
    IvfIndex(index.centroids,
      index.assigned.join(
        broadcast(tombstones.select(col(idCol).as("id")).distinct()),
        Seq("id"), "left_anti"))

  /** ANN top-k through an IVF index: rank only vectors in the `nProbe`
    * centroid lists nearest the query. */
  def ivfTopK(
      index: IvfIndex, query: Seq[Float], k: Int,
      nProbe: Int = 4): DataFrame = {
    val qn = math.sqrt(query.map(v => v.toDouble * v.toDouble).sum)
    val probes = index.centroids.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(query).map { case (a, b) => a * b.toDouble }.sum
        (i, d / math.max(qn, 1e-12))
      }
      .sortBy(-_._2).take(nProbe).map(_._1)
    val q = litArray(query.map(_.toDouble))
    index.assigned
      .where(col("c").isin(probes: _*))
      .select(col("id"), round(cosine(col("v"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** BATCHED IVF probe — the production multi-query serving path
    * ([[ivfTopK]] takes one driver-side query literal; real serving
    * and every sampled audit probe a BATCH). Per query: rank the k
    * centroids (a broadcast join of the k-row centroid frame against
    * the query batch — |Q|·k skinny rows, windowed per query), keep
    * the top `nProbe` cells, then join the (query, cell) probe frame
    * against the assignment — BROADCAST, because |Q|·nProbe is probe-
    * batch-scale — so the corpus-scale side is ONE scan with no
    * shuffle, and on the [[ivfIndexWrite]] persisted layout the cell
    * filter becomes partition pruning. Scoring/tiebreak contracts are
    * [[ivfTopK]]'s exactly: cell score = dot(centroid, q)/‖q‖ with
    * ties to the lower cell id; member score = e6-rounded cosine with
    * ties to the lower vector id ([[knnJoin]]'s BoundedTopK two-phase
    * top-k — per-partition partials, k rows per query to the merge).
    * Output: (query_id, neighbor_id, cos_e6). */
  def ivfTopKBatch(
      index: IvfIndex, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = index.assigned.sparkSession
    val cdf = spark.createDataFrame(
      index.centroids.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("_ci", "_cv")
    val q = queries
      .select(col(idCol).as("_qid"), col(vecCol).as("_qv"))
      .where(norm(col("_qv")) > 0) // zero-norm gate, the family discipline
    val ranked = q.crossJoin(broadcast(cdf))
      .select(col("_qid"), col("_qv"), col("_ci"),
        (dot(col("_cv"), col("_qv")) /
          greatest(norm(col("_qv")), lit(1e-12))).as("_sc"))
    val byScore = Window.partitionBy(col("_qid"))
      .orderBy(col("_sc").desc, col("_ci").asc)
    val probes = ranked
      .withColumn("_rk", row_number().over(byScore))
      .where(col("_rk") <= nProbe)
      .select(col("_qid"), col("_qv"), col("_ci").as("c"))
    val probesP = Caches.persisted(probes)
    // the UNION of probed cells is bounded by |Q|·nProbe — collect it
    // and push a LITERAL cell filter ahead of the join, so on the
    // [[ivfIndexWrite]] persisted layout the scan reads ONLY the
    // probed cells' partition directories (STATIC pruning, not
    // DPP-dependent — PlanSpec-gated). The in-memory form gets the
    // same benefit as a pushed filter. The probe frame is persisted:
    // it feeds both the cells collect and the join build side.
    val cells = probesP.select(col("c")).distinct()
      .collect().map(_.getInt(0)).sorted
    val scored = index.assigned
      .where(col("c").isin(cells.map(c => c: Any): _*))
      .join(broadcast(probesP), Seq("c"))
      .select(col("_qid"), col("id").as("_cid"),
        round(cosine(col("v"), col("_qv")), 6).as("_cos"))
    perQueryTopK(scored, k)
  }

  /** Int8 scalar quantization: per-vector symmetric max-abs scale,
    * `x ≈ qv * scale` with `qv = round(127·x/maxabs)` as `array<byte>`.
    * The point at 100 TB: candidate scoring moves 1 byte/element instead
    * of 4 — the scan/shuffle/cache footprint of the ANN coarse pass
    * shrinks 4×, and the dot stays a native codegen'd loop (VectorDot
    * reads byte arrays directly). Exact vectors re-join only for the
    * surviving re-rank set. Two projections so `maxabs` is a
    * materialized column, never re-evaluated per element. */
  def quantize(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors
      .select(
        col(idCol).as("id"), col(vecCol).as("v"),
        array_max(transform(col(vecCol), x => abs(x.cast("double")))).as("m"))
      .select(
        col("id"),
        transform(col("v"), x =>
          when(col("m") === 0d, lit(0d))
            .otherwise(round(x.cast("double") * 127d / col("m")))
            .cast("byte")).as("qv"),
        (col("m") / 127d).as("scale"))

  /** Scalar quantization driver-side (for the query vector). */
  def quantizeLocal(v: Seq[Float]): (Seq[Byte], Double) = {
    val m = v.map(x => math.abs(x.toDouble)).max
    if (m == 0) (v.map(_ => 0.toByte), 0.0)
    else (v.map(x => math.round(x.toDouble * 127d / m).toByte), m / 127d)
  }

  /** ANN top-k over int8-quantized vectors: coarse top-`coarseK` by
    * quantized dot (byte×byte, 4× lighter scan), then exact re-rank of
    * the survivors against the full-precision vectors. */
  def quantizedTopK(
      vectors: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, coarseK: Int = 50): DataFrame = {
    val (qq, qscale) = quantizeLocal(query)
    val qlit = array(qq.map(b => lit(b)): _*)
    val coarse = quantize(vectors, idCol, vecCol)
      .select(col("id"),
        (dot(col("qv"), qlit) * col("scale") * lit(qscale)).as("approx"))
      .orderBy(col("approx").desc, col("id").asc)
      .limit(coarseK)
    val q = litArray(query.map(_.toDouble))
    vectors
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(broadcast(coarse.select("id")), "id")
      .select(col("id"), round(cosine(col("v"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** Product quantization (PQ, Jégou et al. 2011): the vector is split
    * into `m` subspaces and each subvector replaced by the index of its
    * nearest codebook entry — `m` small codes (one byte each at k≤256)
    * instead of `dim` floats. At 100 TB this is the memory-bound ANN
    * path: the coarse scan reads m bytes/vector (16× less than float32
    * at dim=64, m=8), and scoring is `m` lookup-table reads (ADC —
    * asymmetric distance computation), no multiplies in the scan.
    *
    * Training runs per-subspace k-means in ONE distributed aggregation
    * per Lloyd iteration: explode vectors to (subspace, subvector) rows,
    * assign by minimum L2 (the argmax x·c − |c|²/2 identity, struct-max
    * trick), groupBy (subspace, code) for the per-dimension means — only
    * the m×k×(dim/m) codebook matrix ever reaches the driver.
    */
  final case class PqIndex(
      codebooks: Seq[Seq[Seq[Double]]], // (subspace)(code)(dim-in-sub)
      encoded: DataFrame, // (id, codes array<int>)
      base: DataFrame, // (id, v) — re-rank source
      n: Long) // corpus size, captured at build (auto-shortlist input)

  /** Argmin-L2 code for a subvector column: argmax of x·c − |c|²/2. */
  private def nearestCode(sv: Column, codes: Seq[Seq[Double]]): Column = {
    val scored = codes.zipWithIndex.map { case (c, i) =>
      val half = c.map(x => x * x).sum / 2.0
      struct((dot(sv, litArray(c)) - half).as("score"),
        lit(i).as("idx"))
    }
    array_max(array(scored: _*)).getField("idx")
  }

  def pqBuild(
      vectors: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, iters: Int = 3, seed: Long = 42L,
      trainCap: Int = 0): PqIndex = {
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    // ragged or partially-null input would silently corrupt the codebook
    // means (null elements sum as 0 while the count includes the row) or
    // throw INVALID_ARRAY_INDEX mid-aggregation under ANSI — fail fast
    // with a clear message instead
    val dimRow = base.agg(
      max(size(col("v"))), min(size(col("v"))),
      sum(when(col("v").isNull ||
        exists(col("v"), _.isNull), 1L).otherwise(0L)),
      count(lit(1))).head() // corpus size rides the existing probe agg
    require(!dimRow.isNullAt(0), "pqBuild: empty or all-null vector input")
    val dim = dimRow.getInt(0)
    require(dimRow.getLong(2) == 0L,
      "pqBuild: input contains null vectors or null elements — filter first")
    require(dimRow.getInt(1) == dim,
      s"pqBuild: ragged vector dims (min ${dimRow.getInt(1)}, max $dim)")
    require(dim % m == 0, s"pqBuild: dim $dim not divisible by m=$m")
    val subDim = dim / m

    // (subspace, subvector) TRAINING frame over the deterministic
    // pmd5-ordered sample (the FAISS ~50·k-points discipline; each
    // sampled vector contributes one training point per subspace) —
    // recomputed per iteration (3 slices of a tiny columnar scan;
    // cheaper than caching array columns, the documented
    // array-persist trap). Final encode below runs over the FULL base.
    val cap = lloydTrainCap(trainCap, k)
    val train = trainSampleFrame(base, cap)
      .persistRegistered()
    train.count()
    def subFrame: DataFrame = train.select(
      posexplode(array((0 until m).map(j =>
        slice(col("v"), j * subDim + 1, subDim)): _*)).as(Seq("sub", "sv")))

    var books: Seq[Seq[Seq[Double]]] = initialCodebooks(m, k, subDim, seed)
    for (_ <- 0 until iters) {
      // one shuffle: assignment is a per-subspace CASE over `sub` (all
      // codebooks differ per subspace), aggregation keys on (sub, code).
      // Means from e6-quantized EXACT integer sums — the same
      // determinism choice as ivfBuild (associative sums → codebooks
      // reproducible across partitionings and engines; enables the
      // s7/s9 KmeansOracle replays).
      val assigned = subFrame.withColumn("code",
        (0 until m).foldRight(lit(-1): Column) { case (j, acc) =>
          when(col("sub") === j, nearestCode(col("sv"), books(j)))
            .otherwise(acc)
        })
      val sums = assigned
        .groupBy("sub", "code")
        .agg(count(lit(1)).as("n"),
          array((0 until subDim).map(i =>
            sum(round(element_at(col("sv"), i + 1).cast("double") * 1e6)
              .cast("long")).as(s"s$i")): _*)
            .as("sums"))
        .collect()
      val updated = sums.map { r =>
        val n = r.getLong(2).toDouble
        (r.getInt(0), r.getInt(1)) ->
          r.getSeq[Long](3).map(s => s.toDouble / (n * 1e6))
      }.toMap
      books = books.zipWithIndex.map { case (book, j) =>
        book.zipWithIndex.map { case (c, i) => updated.getOrElse((j, i), c) }
      }
    }

    train.unpersist()
    val codes = array((0 until m).map(j =>
      nearestCode(slice(col("v"), j * subDim + 1, subDim), books(j))): _*)
    PqIndex(books, base.select(col("id"), codes.as("codes")), base,
      dimRow.getLong(3))
  }

  /** ANN top-k through a PQ index: build the m×k lookup table of partial
    * query dots driver-side, score every encoded vector with m
    * element_at reads (no vector arithmetic in the scan), shortlist by
    * approximate dot, re-rank the shortlist exactly.
    *
    * SIZING `shortlist` (the round-8 ANN scale-probe lesson,
    * BASELINE.md): near-duplicate vectors share PQ codes and therefore
    * TIE on the ADC score, so when quantization error ranks some other
    * duplicate clique above the true one, that whole clique floods a
    * fixed shortlist before any true neighbor enters — recall@10
    * collapsed 1.00→0.00 between cliques of 10 and cliques of 100 at
    * the default 50. The round-9 default ENCODES that policy instead
    * of prose: `shortlist <= 0` (the default) auto-sizes to
    * `max(50, ceil(n/200))` — 0.5% of the corpus, which dominates any
    * duplicate clique that is itself ≤0.5% of the corpus and restores
    * recall 1.00 at the 200k probe (1000 ≥ the measured fix) while
    * staying the small re-rank join (the corpus size rides the build's
    * existing probe aggregation — no per-query action). Corpora with
    * heavier duplication should prefer [[ivfPqTopK]], which holds
    * full recall at a fixed default — cells partition competing
    * cliques away and residual codebooks don't tie across cells. */
  def pqTopK(
      index: PqIndex, query: Seq[Float], k: Int,
      shortlist: Int = 0): DataFrame = {
    val sl =
      if (shortlist > 0) shortlist
      else {
        // build-time corpus size — no per-query action; count only for
        // a hand-assembled index that didn't capture it
        val n = if (index.n > 0) index.n else index.encoded.count()
        math.max(50, math.ceil(n / 200.0).toInt)
      }
    val m = index.codebooks.length
    val subDim = index.codebooks.head.head.length
    require(query.length == m * subDim,
      s"pqTopK: query dim ${query.length} != trained dim ${m * subDim}")
    val approx = (0 until m).map { j =>
      val qSub = query.map(_.toDouble).slice(j * subDim, (j + 1) * subDim)
      val lut = array(index.codebooks(j).map(c =>
        lit(c.zip(qSub).map { case (a, b) => a * b }.sum)): _*)
      element_at(lut, element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    val coarse = index.encoded
      .select(col("id"), approx.as("approx"))
      .orderBy(col("approx").desc, col("id").asc)
      .limit(sl)
    val q = litArray(query.map(_.toDouble))
    index.base
      .join(broadcast(coarse.select("id")), "id")
      .select(col("id"), round(cosine(col("v"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** BATCHED PQ serving — [[pqTopK]] for a query DataFrame (the
    * s26/s27 multi-query audit shape and the production batch-scoring
    * path). Per query the m×k ADC lookup table is computed IN-ENGINE
    * as one flat array column (m·k partial dots of codebook literals
    * against the query's subvectors — the LUT lives in DATA, not in a
    * per-query driver literal), broadcast against the encoded corpus;
    * the ADC score is a fixed j-ordered FOLD of m `element_at` reads
    * (deterministic addition order — a groupBy-sum over exploded
    * subspace rows would be partition-order-dependent and
    * unreplayable). Contract difference from the single-query form,
    * aligned WITH the family: the shortlist ranks the e6-ROUNDED ADC
    * score (ties to the lower id; [[pqTopK]] ranks the raw double) —
    * scores within 5e-7 may shortlist differently. Re-rank is the
    * exact e6 cosine per query ([[knnJoin]]'s BoundedTopK two-phase
    * top-k). Output: (query_id, neighbor_id, cos_e6). */
  def pqTopKBatch(
      index: PqIndex, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, shortlist: Int = 0): DataFrame = {
    val sl =
      if (shortlist > 0) shortlist
      else {
        val n = if (index.n > 0) index.n else index.encoded.count()
        math.max(50, math.ceil(n / 200.0).toInt)
      }
    val m = index.codebooks.length
    val kCodes = index.codebooks.head.length
    val subDim = index.codebooks.head.head.length
    val q = queries
      .select(col(idCol).as("_qid"), col(vecCol).as("_qv"))
      .where(norm(col("_qv")) > 0)
    // flat LUT array per query: index (j·k + code) → q_sub_j · c_{j,code}
    val lutCol = array((0 until m).flatMap { j =>
      val sub = slice(col("_qv"), j * subDim + 1, subDim)
      index.codebooks(j).map(c => dot(sub, litArray(c)))
    }: _*)
    val qlut = q.select(col("_qid"), lutCol.as("_lut"))
    val approx = (0 until m)
      .map(j => element_at(col("_lut"),
        lit(j * kCodes) + element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _) // fixed j-order fold — replayable addition order
    // MATERIALIZE the code frame before the |Q|-way fan-out: `encoded`
    // is a projection whose `codes` column is m struct-max argmins over
    // k codebook dots — under the crossJoin Spark would re-evaluate
    // that assignment PER (vector, query) PAIR (measured: 128 s for
    // 2k×250 at sf0.1 vs ~2 s materialized). On the persisted-index
    // path ([[pqIndexRead]]) the codes are already bytes on disk and
    // this is a no-op cache of a parquet scan.
    val enc = Caches.persisted(index.encoded)
    val short = perQueryTopK(
      enc.crossJoin(broadcast(qlut))
        .select(col("_qid"), col("id").as("_cid"), approx.as("_cos")),
      sl)
      .select(col("query_id").as("_qid"), col("neighbor_id").as("id"))
    val scored = index.base
      .join(short, Seq("id"))
      .join(broadcast(q), Seq("_qid"))
      .select(col("_qid"), col("id").as("_cid"),
        round(cosine(col("v"), col("_qv")), 6).as("_cos"))
    perQueryTopK(scored, k)
  }

  /** Persist a PQ index: codebooks as a tiny (sub, code, vec) table,
    * the byte-code frame, the re-rank base, and the build-time corpus
    * size in a one-row params table (so the auto-shortlist policy
    * survives persistence without a count). Codebook doubles
    * round-trip parquet exactly — probes equal the in-memory
    * index's. */
  def pqIndexWrite(index: PqIndex, dir: String): Unit = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    graft.util.Manifest.writeIndex(spark, java.nio.file.Paths.get(dir),
      Seq(
        "codebooks" -> { p: java.nio.file.Path =>
          index.codebooks.zipWithIndex.flatMap { case (book, sub) =>
            book.zipWithIndex.map { case (v, code) => (sub, code, v) }
          }.toDF("sub", "code", "vec").coalesce(1)
            .write.mode("overwrite").parquet(p.toString)
        },
        "encoded" -> { p: java.nio.file.Path =>
          index.encoded.write.mode("overwrite").parquet(p.toString)
        },
        "base" -> { p: java.nio.file.Path =>
          index.base.write.mode("overwrite").parquet(p.toString)
        },
        "params" -> { p: java.nio.file.Path =>
          Seq(Tuple1(index.n)).toDF("n")
            .coalesce(1).write.mode("overwrite").parquet(p.toString)
        }))
  }

  def pqIndexRead(
      spark: org.apache.spark.sql.SparkSession, dir: String): PqIndex = {
    val snap = graft.util.Manifest.snapshot(dir)
    val rows = spark.read.parquet(snap.path("codebooks"))
      .orderBy("sub", "code").collect()
    val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_.getInt(1))
          .map(r => r.getSeq[Double](r.fieldIndex("vec"))).toSeq
      }
    PqIndex(books,
      spark.read.parquet(snap.path("encoded")),
      spark.read.parquet(snap.path("base")),
      spark.read.parquet(snap.path("params")).head().getLong(0))
  }

  /** IVF-PQ composite index (Jégou et al. 2011's IVFADC — the canonical
    * billion-vector layout FAISS ships as `IVFx,PQy`): a coarse k-means
    * quantizer routes each vector to a cell, and PQ encodes the
    * RESIDUAL (v − centroid) — residuals are centered near zero, so the
    * same codebook budget quantizes them far more accurately than raw
    * vectors. At 100 TB: the cell id is the partition key (a query
    * touches only nProbe cells' files), the scan reads m bytes/vector,
    * scoring is additive lookup-table reads, and only the
    * (k×dim + m×pqK×dim/m) codebook matrices ever reach the driver. */
  final case class IvfPqIndex(
      centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]],
      encoded: DataFrame, // (id, c, codes array<int>)
      base: DataFrame) // (id, v) — exact re-rank source

  /** Residual of `vec` against its assigned centroid (CASE over the
    * cell id of literal centroid arrays — pure projection, no join). */
  private[graft] def residualExpr(
      vec: Column, cellCol: Column, cents: Seq[Seq[Double]]): Column = {
    val centArr = cents.zipWithIndex.foldRight(
      lit(null).cast("array<double>")) { case ((c, i), acc) =>
      when(cellCol === i, litArray(c)).otherwise(acc)
    }
    zip_with(vec, centArr, (a, b) => a.cast("double") - b)
  }

  def ivfPqBuild(
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, m: Int = 8, pqK: Int = 16, iters: Int = 3,
      seed: Long = 42L, dim: Option[Int] = None,
      trainCap: Int = 0): IvfPqIndex = {
    val ivf = ivfBuild(vectors, idCol, vecCol, k, iters, seed, dim, trainCap)
    // persisted + eager: the assignment CASE + residual zip_with would
    // otherwise recompute for pqBuild's validation probe, every Lloyd
    // iteration, the final encode, AND the cell join-back (~6 scans of
    // the most expensive projection in the build). Caller-cleared, per
    // the Dedup cache convention.
    val resid = ivf.assigned.select(col("id"), col("c"),
      residualExpr(col("v"), col("c"), ivf.centroids).as("r"))
      .persistRegistered()
    resid.count()
    val pq = pqBuild(resid, "id", "r", m, pqK, iters, seed, trainCap)
    // column order pinned to the documented (id, c, codes) contract
    val encoded = pq.encoded
      .join(resid.select(col("id"), col("c")), "id")
      .select(col("id"), col("c"), col("codes"))
    IvfPqIndex(ivf.centroids, pq.codebooks, encoded,
      vectors.select(col(idCol).as("id"), col(vecCol).as("v")))
  }

  /** The persisted IVF-PQ family ([[PersistedIndex]]): `encoded`
    * (id, codes, c) — one row per member — and `base` (id, v, c), both
    * partitioned by cell id so maintenance stays partition-scoped on
    * both, beside the `centroids`/`codebooks` model tables. */
  val IvfPqFamily: PersistedIndex.Family = PersistedIndex.Family("ivfpq",
    Seq(PersistedIndex.Table("encoded", Seq("c")),
      PersistedIndex.Table("base", Seq("c"))),
    model = Seq("centroids", "codebooks"), member = "encoded")

  /** Persist an IVF-PQ index under `dir` — [[ivfIndexWrite]]'s layout
    * extended with the PQ artifacts: tiny `centroids`/`codebooks`
    * tables, `encoded` PARTITIONED BY cell id (the probe's cell filter
    * prunes partitions; codes are m ints/vector, the 100 TB scan
    * footprint), and `base` (exact re-rank source — in deployment this
    * is the corpus table itself, written here for self-containment),
    * ALSO partitioned by cell. Ids cast to long — the one physical id
    * type the appends share (the [[ivfIndexWrite]] contract). */
  def ivfPqIndexWrite(index: IvfPqIndex, dir: String): Unit = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    val enc = index.encoded.withColumn("id", col("id").cast("long"))
    IvfPqFamily.write(spark, dir,
      Map("encoded" -> enc,
        "base" -> index.base.withColumn("id", col("id").cast("long"))
          .join(enc.select(col("id"), col("c")), "id")),
      Map("centroids" -> centroidFrame(spark, index.centroids),
        "codebooks" -> (for {
          (cb, s) <- index.codebooks.zipWithIndex
          (v, code) <- cb.zipWithIndex
        } yield (s, code, v)).toDF("sub", "code", "vec")))
  }

  private def codebooksAt(
      spark: SparkSession, snap: graft.util.Manifest.Snapshot)
      : Seq[Seq[Seq[Double]]] =
    spark.read.parquet(snap.path("codebooks")).collect()
      .map(r => (r.getInt(r.fieldIndex("sub")), r.getInt(r.fieldIndex("code")),
        r.getSeq[Double](r.fieldIndex("vec"))))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toSeq }

  /** Load a persisted IVF-PQ index; doubles round-trip parquet exactly,
    * so probes, LUTs and re-ranks equal the in-memory index's. */
  def ivfPqIndexRead(
      spark: org.apache.spark.sql.SparkSession, dir: String): IvfPqIndex = {
    // one snapshot: the four tables + sidecar from a single state
    val snap = graft.util.Manifest.snapshot(dir)
    IvfPqIndex(centroidsAt(spark, snap), codebooksAt(spark, snap),
      IvfPqFamily.live(spark, snap, "encoded"),
      IvfPqFamily.live(spark, snap, "base").select(col("id"), col("v")))
  }

  /** PQ codes for a materialized residual column under FROZEN
    * codebooks — the encode tail of [[pqBuild]] factored for the
    * maintenance path (argmin-L2 per subspace, identical tie
    * contract). */
  private[graft] def pqCodesExpr(
      residual: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    val m = books.length
    val subDim = books.head.head.length
    array((0 until m).map(j =>
      nearestCode(slice(residual, j * subDim + 1, subDim), books(j))): _*)
  }

  /** Append to a PERSISTED IVF-PQ index WITHOUT retraining: the
    * batch is assigned with the FROZEN on-disk centroids
    * ([[assignWithBuildRegime]] — the identical regime the build used),
    * residual-encoded under the FROZEN codebooks (append ≡
    * rebuild-encode row-for-row under the same models; spec- and
    * oracle-pinned), and appended into the cell-partitioned `encoded`
    * and `base` tables — new files land only under the touched cells.
    * Idempotent and resurrecting through the shared
    * [[PersistedIndex.Family.append]] step, whose per-table dup gate
    * heals a crash between the two appends on retry. */
  def ivfPqIndexAppendIdempotent(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      arriving: DataFrame, idCol: String, vecCol: String): Unit = {
    val snap = graft.util.Manifest.snapshot(dir)
    val cents = centroidsAt(spark, snap)
    val books = codebooksAt(spark, snap)
    val batch = arriving.select(
      col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .dropDuplicates("id")
    val assigned = assignWithBuildRegime(batch, cents).persist()
    // materialize residuals BEFORE the code argmins (the ivfPqBuild
    // `resid` discipline): pqCodesExpr references its residual input
    // m·pqK times (one per candidate-code dot), and with "r" a live
    // projection the optimizer inlines the k-branch centroid CASE +
    // zip_with into EVERY reference — measured ~70% of s34's executor
    // time (the two append writes at 30–40 s task time for a 1,000-row
    // batch). The persisted frame is |batch|×dim — batch-bounded at any
    // corpus size.
    val withR = assigned.select(col("id"), col("c"),
      residualExpr(col("v"), col("c"), cents).as("r")).persist()
    try IvfPqFamily.append(spark, dir, assigned.select(col("id")), Map(
      "encoded" -> (_ => withR.select(col("id"),
        pqCodesExpr(col("r"), books).as("codes"), col("c"))),
      "base" -> (_ => assigned.select(col("id"), col("v"), col("c")))))
    finally { withR.unpersist(); assigned.unpersist() }
  }

  /** ANN top-k through an IVF-PQ index: probe the `nProbe` cells
    * nearest the query; approximate
    * `q·v ≈ q·centroid_c + q·r̂ = base_c + Σ_j LUT[j][code_j]`.
    * The LUT holds the RAW query subvectors' partial dots against the
    * residual codebooks (m·pqK doubles, built driver-side, shared by
    * every cell — in the inner-product formulation only the `base_c`
    * constant is cell-specific; residualizing the query inside the LUT
    * is the L2-ADC idiom and would score (q−c)·r̂ instead, collapsing a
    * cell's ordering to a constant when q ≈ c). Shortlist by the
    * additive score, re-rank the shortlist exactly. */
  def ivfPqTopK(
      index: IvfPqIndex, query: Seq[Float], k: Int,
      nProbe: Int = 4, shortlist: Int = 50): DataFrame = {
    val m = index.codebooks.length
    val subDim = index.codebooks.head.head.length
    require(query.length == m * subDim,
      s"ivfPqTopK: query dim ${query.length} != trained dim ${m * subDim}")
    val qd = query.map(_.toDouble)
    val qn = math.sqrt(qd.map(v => v * v).sum)
    val probes = index.centroids.zipWithIndex
      .map { case (c, i) =>
        (i, c.zip(qd).map { case (a, b) => a * b }.sum / math.max(qn, 1e-12))
      }
      .sortBy(-_._2).take(nProbe).map(_._1)
    // shared residual-codebook LUT on the raw query
    val luts = (0 until m).map { j =>
      val qSub = qd.slice(j * subDim, (j + 1) * subDim)
      array(index.codebooks(j).map(c =>
        lit(c.zip(qSub).map { case (a, b) => a * b }.sum)): _*)
    }
    val adc = (0 until m).map(j =>
      element_at(luts(j), element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    // per-cell constant: q · centroid_c
    val base = probes.foldRight(lit(null).cast("double")) { (cell, acc) =>
      val qBase = index.centroids(cell).zip(qd)
        .map { case (a, b) => a * b }.sum
      when(col("c") === cell, lit(qBase)).otherwise(acc)
    }
    val coarse = index.encoded
      .where(col("c").isin(probes: _*))
      .select(col("id"), (base + adc).as("approx"))
      .orderBy(col("approx").desc, col("id").asc)
      .limit(shortlist)
    val q = litArray(query.map(_.toDouble))
    index.base
      .join(broadcast(coarse.select("id")), "id")
      .select(col("id"), round(cosine(col("v"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** Bucket-count geometry for the banded sign-LSH pair generator: with
    * `p` planes per band a corpus of `n` vectors spreads over 2^p
    * buckets, so an average bucket holds n/2^p vectors and the band
    * self-join emits Θ(n²/2^p) candidates. A FIXED p is therefore a
    * quadratic time bomb: fine at 500 vectors, catastrophic at 10⁹.
    * Deriving p = ⌈log2(n/targetBucket)⌉ keeps the average bucket at
    * ~`targetBucket` vectors regardless of corpus size — candidates grow
    * ~linearly (n·targetBucket), the property that makes the operator
    * survive 100 TB. Clamped to [1, 24] (2^24 buckets ≫ any real corpus
    * needs; ≥1 so tiny corpora still bucket). */
  def derivePlanesPerBand(n: Long, targetBucket: Int = 64): Int = {
    // integer-exact formulation of ceil(log2(n/target)): smallest p with
    // 2^p >= ceil(n/target). Equal to the double-log form everywhere the
    // double doesn't round across an integer, and — the point — exactly
    // replayable by an independent SQL engine (the d6/d11 oracles compute
    // the same p from count(*) with integer CASE arms, no log2 calls).
    val t = math.max(targetBucket, 1)
    val c = (math.max(n, 1L) + t - 1) / t
    val p = 64 - java.lang.Long.numberOfLeadingZeros(math.max(c - 1, 1L))
    math.min(24, math.max(1, p))
  }

  /** All near-duplicate pairs with cosine >= threshold, via banded
    * sign-bit LSH (the cosine analog of MinHash banding): `bands`
    * independent groups of `planesPerBand` hyperplanes; a pair is a
    * candidate if it matches exactly in ≥1 band. Candidate generation is
    * an equi-join on (band, bucket) carrying ids only — the 100 TB path;
    * vectors join back just for surviving pairs. Recall for a pair at
    * angle θ is 1-(1-p^r)^b with p = 1-θ/π; tune bands/planesPerBand to
    * the target threshold (more planes per band → sparser buckets →
    * cheaper join, lower recall).
    *
    * Two scale guards (mirroring the minhash path's `bandCandidates`):
    *  - `planesPerBand <= 0` (the default) auto-derives the bucket count
    *    from the corpus size via [[derivePlanesPerBand]] — a fixed plane
    *    count would hand the self-join Θ(n²/2^p) candidates at scale.
    *  - `maxBucket` drops buckets larger than the cap before the
    *    self-join (skew guard: a bucket of near-identical boilerplate
    *    vectors would otherwise hand one reducer O(bucket²) pairs).
    *    Pairs inside a dropped bucket can still surface through any of
    *    the other `bands-1` independent bands.
    *
    * `dim` skips the full-column probe scan when the caller knows the
    * embedding width (at 100 TB the probe reads every vector before the
    * real job starts); when absent it is derived in the same job that
    * counts the corpus for the geometry derivation — one probe, not two.
    */
  def cosineNearDupPairs(
      vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 4, planesPerBand: Int = 0,
      maxBucket: Int = 1000, targetBucket: Int = 64,
      dim: Option[Int] = None): DataFrame = {
    // derived-when-absent, and derived TOGETHER: dim (max size — a wrong
    // dim would silently degenerate the hyperplane buckets and tank
    // recall) and corpus count (geometry) ride one aggregation job.
    // With both supplied there is no eager probe at all (PlanSpec pins
    // this). max(size) is null-row-safe; an empty/all-null input
    // short-circuits to an empty pair frame.
    val needProbe = dim.isEmpty || planesPerBand <= 0
    val (dimOpt, nOpt): (Option[Int], Option[Long]) =
      if (needProbe) {
        val row = vectors.agg(max(size(col(vecCol))), count(lit(1))).head()
        (dim.orElse(if (row.isNullAt(0)) None else Some(row.getInt(0))),
          Some(row.getLong(1)))
      } else (dim, None)
    if (dimOpt.isEmpty)
      return vectors.select(
        col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0d).as("cos_sim")).limit(0)
    val dimV = dimOpt.get
    val ppb =
      if (planesPerBand > 0) planesPerBand
      else derivePlanesPerBand(nOpt.get, targetBucket)
    // sign-LSH is SCALE-INVARIANT (sign(v·h) == sign(v̂·h) for positive
    // norms), so signatures come straight off the raw vectors — no
    // corpus-wide normalization pass. Survivor verification computes
    // cosine per CANDIDATE PAIR (three codegen'd VectorDot folds each):
    // candidates are few by construction, so per-pair norms cost less
    // than normalizing every vector and re-deriving that projection on
    // every join branch.
    val raw = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val bandSigs = (0 until bands).map { b =>
      val planes = hyperplanes(ppb, dimV, seed = 42L + b)
      struct(lit(b).as("band"), lshSignature(col("v"), planes).as("bucket"))
    }
    val buckets = raw
      .select(col("id"), explode(array(bandSigs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .persistRegistered()
    buckets.count() // eager: count + both self-join sides read one cache
    val small = buckets.groupBy("band", "bucket").count()
      .where(col("count") <= maxBucket).drop("count")
    val capped = buckets.join(small, Seq("band", "bucket"))
    val l = capped.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = capped.select(col("band"), col("bucket"), col("id").as("id_b"))
    l.join(r, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(raw.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(raw.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      // RAW cosine, threshold on the raw double: the fold order of
      // VectorDot (sequential i=0..n-1 in double) is replayable by an
      // independent engine's list_reduce, so the comparison — and any
      // e6 floor a caller applies — is bit-identical cross-engine.
      // (A round(.,6) here would re-introduce decimal-tie semantics.)
      .withColumn("cos_sim", cosine(col("v_a"), col("v_b")))
      .where(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Squared L2 distance to a DRIVER-HELD center, e6-floored to BIGINT
    * — the k-center loop's scoring primitive. The fold is the s11
    * `l2Distance` idiom (left-to-right double over `zip_with`), so
    * DuckDB's `list_sum` over the identical term list replays it
    * bit-exactly; flooring BEFORE the cross-round `least` keeps every
    * downstream comparison in integers. */
  private def sqDistE6(vec: Column, center: Seq[Float]): Column = {
    val c = array(center.map(f => lit(f.toDouble)): _*)
    floor(aggregate(
      zip_with(vec, c, (x, y) =>
        (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, d) => acc + d) * 1e6).cast("long")
  }

  /** Greedy k-center coreset (farthest-point sampling, Gonzalez 1985)
    * over the FULL corpus — the diversity-selection step of coreset /
    * active-learning data curation (pick k exemplars such that every
    * vector is within the returned radius of one of them; the greedy
    * rule is a 2-approximation of the optimal k-center cover).
    *
    * Unlike [[mmrTopK]] (greedy over a 50-candidate shortlist held on
    * the driver), this is the at-scale shape: the per-round state is
    * ONE corpus-sized frame `(id, v, md)` holding each vector's
    * integer min-distance to the chosen set, updated incrementally —
    * round j broadcasts only the single new center (a lit array) and
    * performs one narrow map (`least`) plus one TakeOrderedAndProject
    * argmax. Total work O(n·k) distance evaluations, driver state k
    * rows, no shuffle in the loop at all (argmax is a reduce).
    * Persist/unpersist per round caps lineage like [[Graph.iterate]].
    *
    * Determinism contract: the seed center is the vector with the
    * smallest portable 60-bit hash of its id ([[Dedup.pmd5]], id
    * tiebreak) — layout-independent "random" start; each round's
    * argmax breaks distance ties by id ascending. Distances are
    * e6-floored integers from the moment they're computed, so the
    * running `least` chain never mixes float rounding across rounds
    * and an independent engine replays the selection exactly.
    *
    * Output: `(rank, vec_id, radius_e6)` — radius_e6 is the chosen
    * vector's min-distance to the previously chosen set at selection
    * time (the non-increasing coverage-radius curve; rank 1 is the
    * seed, radius 0 by convention). */
  def kCenterCoreset(
      vectors: DataFrame, idCol: String, vecCol: String, k: Int)
      : DataFrame = {
    val sp = vectors.sparkSession
    import sp.implicits._
    kCenterChosen(vectors, idCol, vecCol, k)
      .map { case (rank, id, radius, _) => (rank, id, radius) }
      .toDF("rank", "vec_id", "radius_e6")
  }

  /** The greedy FPS loop itself — driver-held chosen centers WITH
    * their vectors, so [[kCenterCover]] can assign against them
    * without a second pass over the selection. */
  private[ext] def kCenterChosen(
      vectors: DataFrame, idCol: String, vecCol: String, k: Int)
      : Seq[(Long, Long, Long, Seq[Float])] = {
    require(k >= 1, "kCenterCoreset needs k >= 1")
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val seed = base
      .withColumn("h", Dedup.pmd5(col("id")))
      .orderBy(col("h").asc, col("id").asc)
      .limit(1).select("id", "v").collect()
    if (seed.isEmpty) return Seq.empty
    val seedRow = seed(0)
    var center: Seq[Float] = seedRow.getSeq[Float](1)
    val chosen =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Seq[Float])](
        (1L, seedRow.getLong(0), 0L, center))
    var cur = base.withColumn("md", sqDistE6(col("v"), center))
      .persistRegistered()
    // k truncates to the vectors actually present (top-k convention)
    val kk = math.min(k.toLong, base.count())
    for (rank <- 2L to kk) {
      val far = cur.orderBy(col("md").desc, col("id").asc).limit(1).head()
      center = far.getSeq[Float](1)
      chosen += ((rank, far.getLong(0), far.getLong(2), center))
      if (rank < kk) { // the final selection needs no updated frame
        val prev = cur
        cur = prev
          .withColumn("md", least(col("md"), sqDistE6(col("v"), center)))
          .persistRegistered()
        cur.count() // materialize before dropping parent
        prev.unpersist(false)
      }
    }
    cur.unpersist(false)
    chosen.toSeq
  }

  /** The COVER the k-center coreset defines: every vector assigned to
    * its nearest chosen center (integer e6 distances, ties by center
    * rank ascending — first-match, the same rule the oracle's CASE
    * chain evaluates), rolled up to one row per center: member count
    * and the cell's coverage radius (max member distance — the
    * quantity the greedy 2-approximation bounds). The per-cell radii
    * and populations are the audit a coreset consumer reads to decide
    * whether k suffices.
    *
    * Plan shape: the selection is [[kCenterChosen]]'s k passes; the
    * assignment is ONE corpus scan against k broadcast literal
    * centers (k narrow columns + a `least`, no join, no shuffle
    * before the |k|-row aggregate). Output: (center_rank, center_id,
    * n_members, cover_radius_e6); a center orphaned by duplicate
    * geometry keeps its row with 0 members. */
  def kCenterCover(
      vectors: DataFrame, idCol: String, vecCol: String, k: Int)
      : DataFrame = {
    val sp = vectors.sparkSession
    import sp.implicits._
    val centers = kCenterChosen(vectors, idCol, vecCol, k)
    if (centers.isEmpty)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("center_rank", "center_id", "n_members", "cover_radius_e6")
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val withD = centers.foldLeft(base) { case (df, (rank, _, _, cv)) =>
      df.withColumn(s"d$rank", sqDistE6(col("v"), cv))
    }
    val dCols = centers.map { case (rank, _, _, _) => col(s"d$rank") }
    val withMd = withD.withColumn("md",
      if (dCols.size == 1) dCols.head else least(dCols: _*))
    val crCol = centers.tail
      .foldLeft(when(col("d1") === col("md"), lit(1L))) {
        case (acc, (rank, _, _, _)) =>
          acc.when(col(s"d$rank") === col("md"), lit(rank))
      }
    val stats = withMd
      .withColumn("center_rank", crCol)
      .groupBy("center_rank")
      .agg(count(lit(1)).as("n_members"), max(col("md")).as("radius"))
    centers.map { case (rank, id, _, _) => (rank, id) }
      .toDF("center_rank", "center_id")
      .join(broadcast(stats), Seq("center_rank"), "left")
      .select(col("center_rank"), col("center_id"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("radius"), lit(0L)).as("cover_radius_e6"))
  }

  /** Embedding DRIFT between label populations — linear-kernel MMD²
    * (= squared distance between the population mean vectors, the
    * two-sample test a training-data mixture is monitored by: "did
    * source B's embedding distribution move vs source A's?").
    *
    * Exact-integer discipline: components e6-quantize to longs, sums
    * are associative, the per-(label, dim) mean is ONE floored IEEE
    * double division (exact while |sum| < 2^53 — at e6 scale that is
    * ~9·10⁹ unit-norm rows per label; beyond it, pre-scale the
    * quantization down, the audit is scale-free). MMD²_e12 =
    * Σ_dim (meanA_e6 − meanB_e6)² then fits a long with room (≤
    * 4·10¹²·dim). Also reports the top-drift DIMENSION (argmax |Δ|,
    * ties to the lower dim) — the "which feature moved" pointer.
    *
    * Scale shape: the posexplode is CPU-side amplification only —
    * map-side partial aggregation means the shuffle carries
    * |labels|·dim·partitions rows, and everything after the first agg
    * is |labels|·dim state. Label pairs compare on that reduced frame
    * (a broadcast self-join), never on data. */
  def labelDrift(
      vectors: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val q = vectors.select(
      col(labelCol).cast("long").as("lbl"),
      posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("lbl"), col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1e6).cast("long").as("qv"))
    // persisted: both pair-join branches read this |labels|·dim frame —
    // without the persist the corpus pays the posexplode+agg pass twice
    val m = q.groupBy("lbl", "dim")
      .agg(sum(col("qv")).as("s"), count(lit(1)).as("n"))
      .select(col("lbl"), col("dim"),
        floor(col("s").cast("double") / col("n").cast("double"))
          .cast("long").as("mean_e6"),
        col("n"))
      .persistRegistered()
    val a = m.select(col("lbl").as("lbl_a"), col("dim"),
      col("mean_e6").as("ma"), col("n").as("n_a"))
    val b = m.select(col("lbl").as("lbl_b"), col("dim"),
      col("mean_e6").as("mb"), col("n").as("n_b"))
    a.join(broadcast(b), Seq("dim"))
      .where(col("lbl_a") < col("lbl_b"))
      .withColumn("d", col("ma") - col("mb"))
      .groupBy("lbl_a", "lbl_b")
      .agg(
        max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b"),
        sum(col("d") * col("d")).as("mmd2_e12"),
        max(struct(abs(col("d")).as("ad"), (-col("dim")).as("nd")))
          .as("_top"))
      .select(
        col("lbl_a"), col("lbl_b"), col("n_a"), col("n_b"),
        col("mmd2_e12"),
        (-col("_top.nd")).as("top_dim"),
        col("_top.ad").as("top_absdiff_e6"))
  }

  /** D4-style PROTOTYPICALITY ranking (Abbas et al. 2023; SSL
    * prototypes, Sorscher et al. 2022): every vector ranked within its
    * k-means cluster by cosine to the cluster centroid, percentile in
    * basis points, and the prune flag for the most-prototypical
    * `pruneE4` fraction — the diversification step that runs AFTER
    * SemDeDup (d18) in the D4 pipeline: near-centroid points carry the
    * least marginal information, so they are dropped first.
    *
    * Built on the SAME deterministic Lloyd build the s4/s6/d18 oracles
    * replay ([[ivfBuild]]); the score is the assignment score
    * (dot/|v|, centroid-norm constant per cluster so within-cluster
    * ranking is cosine ranking). The window is KEYED by cluster — the
    * per-cluster sort is the operator's semantics (a rank per member);
    * at extreme scale the flag-only consumer can swap the window for
    * per-cluster score-threshold quantiles (two aggs, no sort) — the
    * rank output here is what the audit pack pins.
    */
  def prototypicality(
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, pruneE4: Long = 1000L,
      dim: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idx = ivfBuild(vectors, idCol, vecCol, k = k, dim = dim)
    val sp = vectors.sparkSession
    val cdf = broadcast(sp.createDataFrame(
      idx.centroids.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("c", "cv"))
    val sc = idx.assigned.join(cdf, "c")
      .select(col("id"), col("c"),
        (dot(col("v"), col("cv")) / norm(col("v"))).as("s"))
    val w = Window.partitionBy("c").orderBy(col("s").desc, col("id").asc)
    sc.select(
      col("id").as("vec_id"),
      col("c").cast("long").as("cluster_id"),
      row_number().over(w).cast("long").as("rank_in_cluster"),
      count(lit(1)).over(Window.partitionBy("c")).as("n_cluster"),
      round(col("s") * 1e6).cast("long").as("score_e6"))
      .withColumn("pct_e4", expr("rank_in_cluster * 10000 div n_cluster"))
      .withColumn("is_pruned", (col("pct_e4") <= pruneE4).cast("long"))
  }
}
