package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution statistics from the ClickHouse aggregate surface:
  * Shannon entropy (`entropy`) and exact weighted quantiles
  * (`quantileExactWeighted`).
  *
  * Both reduce to ONE aggregation shuffle on (key, value) — the
  * frequency table — and never move raw rows afterwards: entropy folds
  * the per-key count list, the quantile walks cumulative weights with a
  * window. Exactness discipline: counts/weights stay integers through
  * every shuffle; doubles appear only in a fixed final expression tree
  * (entropy) or not at all (quantile), so DuckDB replays both
  * bit-exactly.
  */
object Stats {

  /** Shannon entropy of `valCol`'s distribution per key — ClickHouse
    * `entropy()` — in e6-floored MICRO-NATS, via the distributive
    * identity H = ln(n) − (Σ c·ln c)/n.
    *
    * Exactness discipline (the t18 ladder): each per-value term
    * `floor(1e6·c·ln c)` becomes an INTEGER before any summation, so
    * the only floating-point in the operator is one `ln` per distinct
    * count and one per group total — no double sum whose order partial
    * aggregation could perturb, and nothing for an oracle to disagree
    * on. The pinned contract is therefore
    * `floor(1e6·ln n) − (Σ floor(1e6·c·ln c)) div n` — within a few
    * micro-nats of true H, identically on any engine. Fully
    * distributive: works at any per-key cardinality (no per-key value
    * collection, unlike a sorted-fold formulation). Output: (keyCol,
    * entropy_e6). */
  def entropy(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    df.groupBy(col(keyCol), col(valCol))
      .agg(count(lit(1)).as("_c"))
      .select(col(keyCol), col("_c"),
        floor(lit(1e6) * col("_c").cast("double") *
          log(col("_c").cast("double"))).cast("long").as("_s"))
      .groupBy(col(keyCol))
      .agg(sum(col("_c")).as("_n"), sum(col("_s")).as("_ssum"))
      .select(col(keyCol),
        (floor(lit(1e6) * log(col("_n").cast("double"))).cast("long") -
          expr("_ssum div _n")).as("entropy_e6"))

  /** Exponential moving average per key — the ClickHouse
    * `exponentialMovingAverage` shape with the classic recursion
    * `ema₀ = x₀; emaᵢ = α·xᵢ + (1−α)·emaᵢ₋₁` over (tsCol, idCol)
    * order. Inherently order-SENSITIVE, so it folds a per-key sorted
    * list (the q46 bounded-cardinality contract: one key's events fit a
    * row; beyond that, segment by time-bucket and stitch — the
    * Packing prefix-sum shape). The fold tree `α·x + (1−α)·acc` is
    * fixed and sequential, so an engine replaying the same sorted fold
    * (DuckDB `list_reduce` seeds from the first element exactly like
    * the recursion) reproduces it bit-equally — oracle-able despite
    * being a floating recursion. Output: (keyCol, ema_e6 = floor of
    * 1e6 × the final EMA). */
  def ema(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"ema: alpha in (0,1] (got $alpha)")
    val vals = transform(
      sort_array(collect_list(struct(col(tsCol), col(idCol), col(valCol)))),
      s => s.getField(valCol).cast("double"))
    df.groupBy(col(keyCol))
      .agg(vals.as("_v"))
      .select(col(keyCol),
        floor(
          aggregate(
            slice(col("_v"), lit(2), size(col("_v")) - 1),
            element_at(col("_v"), 1),
            (acc, x) => lit(alpha) * x + lit(1.0 - alpha) * acc) * 1e6)
          .cast("long").as("ema_e6"))
  }

  /** Exact weighted quantile per key — ClickHouse
    * `quantileExactWeighted(q)(v, w)`: the smallest value whose
    * cumulative weight reaches q of the total. `q` is the rational
    * `num/denom` so the threshold comparison stays INTEGER
    * (`cumw · denom ≥ W · num`) — no floating-point boundary to
    * disagree on. One aggregation to the (key, value, weight) frequency
    * table, one window walk over it (|distinct values| rows per key,
    * not |rows|). Output: (keyCol, quantile value as `q_value`). */
  def quantileExactWeighted(
      df: DataFrame, keyCol: String, valCol: String, weightCol: String,
      num: Int, denom: Int): DataFrame = {
    require(num >= 0 && denom > 0 && num <= denom,
      s"quantileExactWeighted: need 0 <= num/denom <= 1 (got $num/$denom)")
    val grouped = df.groupBy(col(keyCol), col(valCol))
      .agg(sum(col(weightCol)).as("_w"))
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(valCol))
    val cum = grouped
      .withColumn("_cw",
        sum(col("_w")).over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_tw",
        sum(col("_w")).over(Window.partitionBy(col(keyCol))))
    cum
      .where(col("_cw") * denom >= col("_tw") * num)
      .groupBy(col(keyCol))
      .agg(min(col(valCol)).as("q_value"))
  }

  /** Several exact quantiles in ONE pass — ClickHouse
    * `quantilesExact(q1, q2, ...)` over integer values. Same
    * integer-threshold selection rule as [[quantileExactWeighted]]
    * (smallest value whose cumulative count reaches ⌈q·n⌉ — rational
    * q as num/denom so no floating boundary exists), but all quantiles
    * share the single grouped+windowed cumulative frame: one shuffle
    * on (key, value), one window sort per key, regardless of how many
    * quantiles are requested. Output: (keyCol, <label per q>). */
  def quantilesExact(
      df: DataFrame, keyCol: String, valCol: String,
      qs: Seq[(String, Int, Int)]): DataFrame = {
    require(qs.nonEmpty, "quantilesExact: need at least one quantile")
    qs.foreach { case (label, num, denom) =>
      require(num >= 0 && denom > 0 && num <= denom,
        s"quantilesExact: need 0 <= num/denom <= 1 (got $num/$denom for $label)")
    }
    val grouped = df.groupBy(col(keyCol), col(valCol))
      .agg(count(lit(1)).as("_w"))
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(valCol))
    val cum = grouped
      .withColumn("_cw",
        sum(col("_w")).over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_tw",
        sum(col("_w")).over(Window.partitionBy(col(keyCol))))
    cum.groupBy(col(keyCol))
      .agg(
        min(when(col("_cw") * qs.head._3 >= col("_tw") * qs.head._2,
          col(valCol))).as(qs.head._1),
        qs.tail.map { case (label, num, denom) =>
          min(when(col("_cw") * denom >= col("_tw") * num, col(valCol)))
            .as(label)
        }: _*)
  }

  /** Capped distinct count per key — ClickHouse `uniqUpTo(N)`: the
    * exact distinct count while it is ≤ N, else N+1. The Spark-native
    * bounded-state shape is the two-phase distinct: the first
    * `groupBy(key, value)` combines map-side, so the shuffle carries
    * one row per DISTINCT (key, value) — the cap then folds the tiny
    * per-key count. (ClickHouse bounds the in-memory state instead;
    * Spark's equivalent lever is map-side combine + spillable
    * aggregation, which needs no custom UDAF.) Output:
    * (keyCol, uniq_up_to). */
  def uniqUpTo(
      df: DataFrame, keyCol: String, valCol: String, n: Int): DataFrame = {
    require(n > 0, s"uniqUpTo: n must be positive (got $n)")
    df.groupBy(col(keyCol), col(valCol)).agg(count(lit(1)).as("_c"))
      .groupBy(col(keyCol))
      .agg(least(count(lit(1)), lit(n.toLong + 1)).as("uniq_up_to"))
  }

  /** The ClickHouse `-Array` combinator family over an array column:
    * per key, `sumArray` / `maxArray` / `uniqArray` of the elements,
    * in e6-floored integer units so every aggregate is exact. sum and
    * max fold INSIDE the row (`aggregate` / `array_max` over the
    * lambda-transformed array — no explode, rows shrink to one long
    * before the shuffle); only the corpus-wide distinct count pays the
    * explode, because cross-row dedup genuinely needs element rows.
    * Output: (keyCol, sum_arr_e6, max_arr_e6, uniq_arr). */
  def arrayAggs(
      df: DataFrame, keyCol: String, arrCol: String): DataFrame = {
    val e6 = transform(col(arrCol),
      x => floor(x.cast("double") * 1e6).cast("long"))
    val folded = df
      .select(col(keyCol), e6.as("_a"))
      .select(col(keyCol),
        aggregate(col("_a"), lit(0L), (acc, x) => acc + x).as("_s"),
        array_max(col("_a")).as("_m"))
      .groupBy(col(keyCol))
      .agg(sum(col("_s")).as("sum_arr_e6"), max(col("_m")).as("max_arr_e6"))
    val uniq = df
      .select(col(keyCol), explode(e6).as("_v"))
      .groupBy(col(keyCol))
      .agg(countDistinct(col("_v")).as("uniq_arr"))
    folded.join(uniq, keyCol)
  }

  /** Deterministic batch gradient-descent linear regression — the
    * ClickHouse `stochasticLinearRegression` shape made
    * distribution-safe: SGD's per-row updates are order-dependent (a
    * shuffled corpus would train a different model every run), so this
    * runs FULL-batch epochs: each epoch is one aggregation over the
    * data computing the exact integer gradient sums
    * Σ err·x and Σ err (err in e6 fixed-point, sums as Decimal(38,0)
    * so partial-agg order cannot matter), the driver applies the
    * update in BigInt with truncating division, and the new weights
    * re-enter the next epoch as literals. Driver traffic: two numbers
    * per epoch. Per-coordinate learning rates (w: 1/lrDenW, b:
    * 1/lrDenB) act as the usual diagonal preconditioner for the x/1
    * scale mismatch. Deterministic on any cluster layout — and
    * SQL-replayable by unrolling the epochs, so it hash-oracles.
    * Output single row: (n, w_e6, b_e6): pred = (w_e6·x + b_e6)/1e6
    * in y units. */
  def gdLinearRegression(
      df: DataFrame, xCol: Column, yE6Col: Column, epochs: Int = 8,
      lrDenW: Long = 10000L, lrDenB: Long = 10L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d = df.select(xCol.cast("long").as("_x"), yE6Col.as("_y6"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var w = BigInt(0); var b = BigInt(0); var n = 0L
    var epoch = 0
    while (epoch < epochs && (epoch == 0 || n > 0)) {
      // exact-or-fail: the whole error term evaluates in Decimal(38,0)
      // (a Long-domain w·x would silently wrap for large weights or
      // features while the HUGEINT oracle stays exact), and a weight
      // outside Long range fails loudly instead of truncating
      require(w.isValidLong && b.isValidLong,
        s"gdLinearRegression diverged: w=$w b=$b — lower the learning rate")
      val err = lit(w.toLong).cast(DecimalType(38, 0)) *
        col("_x").cast(DecimalType(38, 0)) +
        lit(b.toLong).cast(DecimalType(38, 0)) -
        col("_y6").cast(DecimalType(38, 0))
      val row = d.agg(
        sum(err * col("_x").cast(DecimalType(38, 0))).as("gw"),
        sum(err).as("gb"), count(lit(1)).as("n")).head()
      n = row.getAs[Long]("n")
      if (n > 0) { // empty input: no update, weights stay 0
        val gw = BigInt(row.getAs[java.math.BigDecimal]("gw").toBigInteger)
        val gb = BigInt(row.getAs[java.math.BigDecimal]("gb").toBigInteger)
        // truncating BigInt division == DuckDB HUGEINT `//`
        w -= (2 * gw) / (BigInt(n) * lrDenW)
        b -= (2 * gb) / (BigInt(n) * lrDenB)
      }
      epoch += 1
    }
    d.unpersist(false)
    val spark = df.sparkSession
    spark.range(1).select(lit(n).as("n"),
      lit(w.toLong).as("w_e6"), lit(b.toLong).as("b_e6"))
  }

  /** One-pass pairwise Pearson correlation MATRIX (the ClickHouse
    * `corrMatrix` shape) over integer-valued columns: ONE aggregation
    * computes n, every Σxᵢ and every Σxᵢxⱼ as exact Decimal(38,0)
    * sums (associative — reproducible across partitionings and
    * engines), then each of the k·(k−1)/2 correlations is one fixed
    * double tree over those exact integers (the q34 discipline,
    * matrix-wide). Zero-variance pairs yield NULL. Output:
    * (var_a, var_b, corr_e6) for i < j. */
  def corrMatrixE6(df: DataFrame, vars: Seq[(String, Column)]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val names = vars.map(_._1)
    val sums = vars.map { case (n, c) => sum(c.cast(dec)).as(s"s_$n") }
    val prods = for {
      i <- vars.indices; j <- i until vars.size
    } yield sum((vars(i)._2.cast(dec) * vars(j)._2.cast(dec)).cast(dec))
      .as(s"ss_${names(i)}_${names(j)}")
    val aggd = df.agg(
      count(lit(1)).as("n"), (sums ++ prods): _*)
    def d(c: String) = col(c).cast("double")
    val nd = col("n").cast("double")
    val cells = for {
      i <- vars.indices; j <- (i + 1) until vars.size
    } yield {
      val (a, b) = (names(i), names(j))
      val cov = nd * d(s"ss_${a}_$b") - d(s"s_$a") * d(s"s_$b")
      val va = nd * d(s"ss_${a}_$a") - d(s"s_$a") * d(s"s_$a")
      val vb = nd * d(s"ss_${b}_$b") - d(s"s_$b") * d(s"s_$b")
      struct(
        lit(a).as("var_a"), lit(b).as("var_b"),
        when(va > 0 && vb > 0,
          floor(cov / (sqrt(va) * sqrt(vb)) * 1e6).cast("long"))
          .as("corr_e6"))
    }
    aggd.select(explode(array(cells: _*)).as("p")).select(col("p.*"))
  }

  /** Two-feature [[gdLinearRegression]] that additionally SCORES every
    * row under the trained weights — the in-engine classifier shape
    * (train a linear probability model on labeled rows, rank everything
    * by w·x + b). Identical exactness contract: Decimal(38,0) error
    * terms, HUGEINT-equivalent gradient sums, truncating-division
    * updates, so an unrolled-epoch SQL replay reproduces the weights
    * and therefore every score bit-for-bit. One tiny aggregation per
    * epoch (nothing but three sums and a count cross the stages); the
    * scoring pass is a single projection over the feature frame.
    * Returns (id, score_e6 = w1·x1 + w2·x2 + b). */
  def gdLinearModel2Scores(
      df: DataFrame, idCol: Column, x1Col: Column, x2Col: Column,
      yE6Col: Column, epochs: Int = 8, lrDenW: Long = 10000L,
      lrDenB: Long = 10L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val d = df.select(idCol.as("id"), x1Col.cast("long").as("_x1"),
      x2Col.cast("long").as("_x2"), yE6Col.as("_y6"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var w1 = BigInt(0); var w2 = BigInt(0); var b = BigInt(0); var n = 0L
    var epoch = 0
    while (epoch < epochs && (epoch == 0 || n > 0)) {
      require(w1.isValidLong && w2.isValidLong && b.isValidLong,
        s"gdLinearModel2 diverged: w1=$w1 w2=$w2 b=$b — lower the learning rate")
      val err = lit(w1.toLong).cast(dec) * col("_x1").cast(dec) +
        lit(w2.toLong).cast(dec) * col("_x2").cast(dec) +
        lit(b.toLong).cast(dec) - col("_y6").cast(dec)
      val row = d.agg(
        sum(err * col("_x1").cast(dec)).as("g1"),
        sum(err * col("_x2").cast(dec)).as("g2"),
        sum(err).as("gb"), count(lit(1)).as("n")).head()
      n = row.getAs[Long]("n")
      if (n > 0) {
        val g1 = BigInt(row.getAs[java.math.BigDecimal]("g1").toBigInteger)
        val g2 = BigInt(row.getAs[java.math.BigDecimal]("g2").toBigInteger)
        val gb = BigInt(row.getAs[java.math.BigDecimal]("gb").toBigInteger)
        w1 -= (2 * g1) / (BigInt(n) * lrDenW)
        w2 -= (2 * g2) / (BigInt(n) * lrDenW)
        b -= (2 * gb) / (BigInt(n) * lrDenB)
      }
      epoch += 1
    }
    // score in Decimal(38,0) like the error term (ANSI-safe for any
    // Long weights), emitted as long — the oracle's HUGEINT→BIGINT
    // cast. `d` stays persisted: the returned frame READS it (an
    // unpersist here would force the scoring action to recompute the
    // feature extraction from source); the caller/harness clears
    // caches per query, the pack convention.
    d.select(col("id"),
      (lit(w1.toLong).cast(dec) * col("_x1").cast(dec) +
        lit(w2.toLong).cast(dec) * col("_x2").cast(dec) +
        lit(b.toLong).cast(dec)).cast("long").as("score_e6"))
  }

  /** PORTABLE Count-Min sketch estimates — the mergeable POINT-
    * FREQUENCY companion to the q36/q12 HLL (distinct counts) and
    * q38's Misra–Gries (top-k): depth×width counters, row hashes from
    * the pmd5 family (`md5(key || '#' || row)`), per-slice sketches
    * MERGED BY ADDITION (the CMS merge is `+`, so pre-aggregated
    * daily/shard sketches re-aggregate without touching raw data —
    * the 100 TB shape: the only full-data shuffle is the skinny
    * (slice, row, bucket) partial-count, ≤ depth·width rows per slice
    * after map-side combine). Estimate = min over rows of the hit
    * counter: ≥ exact always, = exact absent collisions, error
    * ≤ 2n/width with prob 1−2^−depth. Every step is integer, so the
    * whole sketch (build → merge → probe) replays in DuckDB.
    *
    * Returns (key AS `keyCol`, est_count) for every distinct key; the
    * caller slices/authorizes top-k. `sliceCol` exists to EXERCISE the
    * merge (per-slice sketches summed); estimates are identical to the
    * unsliced build by associativity. */
  def cmsEstimates(
      df: DataFrame, keyCol: String, sliceCol: Column,
      depth: Int = 4, width: Int = 256): DataFrame =
    cmsEstimatesFromCells(
      cmsCells(df, keyCol, sliceCol, depth, width),
      df.select(col(keyCol)).distinct(), keyCol, depth, width)

  /** Per-slice CMS counter cells (_slice, j, b, c, _depth, _width).
    * The geometry rides in two literal columns so a finalize with
    * MISMATCHED depth/width fails loudly instead of silently
    * under-counting (a probe hashed mod a different width would join
    * against the wrong cells — breaking the ≥-exact guarantee). */
  def cmsCells(
      df: DataFrame, keyCol: String, sliceCol: Column,
      depth: Int, width: Int): DataFrame =
    df.select(col(keyCol), sliceCol.as("_slice"))
      .withColumn("j", explode(cmsRows(depth)))
      .selectExpr("_slice", "j", s"${cmsBucket(keyCol, width)} AS b")
      .groupBy(col("_slice"), col("j"), col("b"))
      .agg(count(lit(1)).as("c"))
      .withColumn("_depth", lit(depth))
      .withColumn("_width", lit(width))

  /** CMS row-hash bucket of `key` for the depth index in column `j`:
    * pmd5 of `key || '#' || j`, mod width. Shared by the batch build
    * and the probe side. */
  def cmsBucket(key: String, width: Int): String =
    s"CAST(conv(substr(md5(concat(CAST($key AS STRING), '#', " +
      s"CAST(j AS STRING))),1,15),16,10) AS BIGINT) % $width"

  /** The depth-index array [0, depth) to explode as column `j`. */
  def cmsRows(depth: Int): Column = array((0 until depth).map(lit(_)): _*)

  /** Finalize CMS cells — any frame of (j, b, c, _depth, _width) rows,
    * possibly pre-aggregated per slice/window (extra columns ignored):
    * merge by addition, probe every key in `keys`, so ANY subset of
    * slices merges here. The sketch contract is guarded IN-PLAN:
    * the merge aggregation also folds min/max of the cells' recorded
    * geometry, and an `assert_true` on the merged rows throws at
    * execution if any cell disagrees with THIS call's depth/width — a
    * mod-mismatched probe would otherwise silently under-estimate.
    * Lazy and free: no extra pass, no job at construction time (an
    * earlier eager `.head()` guard doubled the cell build on every
    * finalize). */
  def cmsEstimatesFromCells(
      cells: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 256): DataFrame = {
    val merged = cells.groupBy(col("j"), col("b"))
      .agg(sum(col("c")).as("_c"),
        min(col("_depth")).as("_dLo"), max(col("_depth")).as("_dHi"),
        min(col("_width")).as("_wLo"), max(col("_width")).as("_wHi"))
      .select(col("j"), col("b"),
        coalesce(
          assert_true(
            col("_dLo") === depth && col("_dHi") === depth &&
              col("_wLo") === width && col("_wHi") === width,
            lit(s"CMS geometry mismatch: finalize asked ($depth, $width)" +
              " but the cells were built with a different geometry"))
            .cast("long"),
          col("_c")).as("c"))
    val probes = keys
      .withColumn("j", explode(cmsRows(depth)))
      .selectExpr(keyCol, "j", s"${cmsBucket(keyCol, width)} AS b")
    probes
      .join(broadcast(merged), Seq("j", "b"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
  }
}
