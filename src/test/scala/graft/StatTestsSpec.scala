package graft

import graft.query.StatTests

class StatTestsSpec extends SparkSpec {
  import spark.implicits._

  // independent scalar reference for the t statistics (plain Scala,
  // no Spark) — Welch and pooled Student from raw doubles
  private def refT(x: Seq[Double], y: Seq[Double]): (Double, Double) = {
    def meanVar(v: Seq[Double]): (Double, Double, Int) = {
      val n = v.size
      val m = v.sum / n
      (m, v.map(d => (d - m) * (d - m)).sum / (n - 1), n)
    }
    val (m1, v1, n1) = meanVar(x)
    val (m2, v2, n2) = meanVar(y)
    val sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
    val student = (m1 - m2) / (math.sqrt(sp2) * math.sqrt(1.0 / n1 + 1.0 / n2))
    val welch = (m1 - m2) / math.sqrt(v1 / n1 + v2 / n2)
    (student, welch)
  }

  test("tTests match an independent scalar computation within 1 micro-unit") {
    val x = Seq(1.2, 2.5, 3.1, 4.7, 2.2, 3.3)
    val y = Seq(2.0, 4.1, 6.9, 5.5, 7.2)
    val df = (x.map(("a", _)) ++ y.map(("b", _))).toDF("g", "v")
    val row = StatTests.tTests(df, "g", "v").collect().head
    // the operator floors v to milli-units first — replay that in the ref
    val xq = x.map(d => math.floor(d * 1000) / 1000)
    val yq = y.map(d => math.floor(d * 1000) / 1000)
    val (st, wt) = refT(xq, yq)
    assert(math.abs(row.getAs[Long]("student_t_e6") - math.floor(st * 1e6)) <= 1)
    assert(math.abs(row.getAs[Long]("welch_t_e6") - math.floor(wt * 1e6)) <= 1)
  }

  test("mannWhitneyU equals the brute-force pairwise count (with ties)") {
    val rnd = new scala.util.Random(11)
    val x = Seq.fill(40)(rnd.nextInt(12).toDouble)
    val y = Seq.fill(55)(rnd.nextInt(12).toDouble)
    val df = (x.map(("a", _)) ++ y.map(("b", _))).toDF("g", "v")
    val row = StatTests.mannWhitneyU(df, "g", "v").collect().head
    // 2·U1 = 2·#{(i,j): x_i > y_j} + #ties — the tie-aware definition
    val u2 = 2L * x.map(a => y.count(a > _)).sum +
      x.map(a => y.count(a == _)).sum
    assert(row.getAs[Long]("u1_x2") === u2)
    assert(row.getAs[Long]("n1") === 40L && row.getAs[Long]("n2") === 55L)
  }

  test("ksTest equals the brute-force ECDF sup-distance") {
    val rnd = new scala.util.Random(7)
    val x = Seq.fill(60)(rnd.nextInt(20).toDouble)
    val y = Seq.fill(45)(rnd.nextInt(20).toDouble)
    val df = (x.map(("a", _)) ++ y.map(("b", _))).toDF("g", "v")
    val row = StatTests.ksTest(df, "g", "v").collect().head
    val values = (x ++ y).distinct.sorted
    val num = values.map { v =>
      math.abs(x.count(_ <= v).toLong * y.size - y.count(_ <= v).toLong * x.size)
    }.max
    assert(row.getAs[Long]("ks_num") === num)
  }

  test("momentStats matches an independent scalar skew/kurt computation") {
    val rnd = new scala.util.Random(3)
    val x = Seq.fill(500)((rnd.nextGaussian() * 40 + 100).floor.max(0))
    val df = x.map(("g", _)).toDF("g", "v")
    val row = StatTests.momentStats(df, "g", "v").collect().head
    val q = x.map(math.floor) // the operator floors to whole units
    val n = q.size.toDouble
    val mu = q.sum / n
    def cm(k: Int) = q.map(v => math.pow(v - mu, k)).sum / n
    val skew = cm(3) / math.pow(cm(2), 1.5)
    val kurt = cm(4) / (cm(2) * cm(2)) - 3.0
    // central-moment reference vs raw-moment operator: tiny fp drift
    assert(math.abs(row.getAs[Long]("skew_e6") - math.floor(skew * 1e6)) <= 2)
    assert(math.abs(row.getAs[Long]("kurt_e6") - math.floor(kurt * 1e6)) <= 2)
  }

  test("cramersV on a hand-computed 2x2 table; zero cells carry mass") {
    // table: a1/b1=30 a1/b2=10, a2/b1=10 a2/b2=30 → chi2 = 80·(20²)/ (40·40·40/80)...
    // hand: n=80, e=20 everywhere, chi2 = 4·(10²/20) = 20, V = sqrt(20/80/1) = 0.5
    val rows = Seq.fill(30)(("a1", 1)) ++ Seq.fill(10)(("a1", 2)) ++
      Seq.fill(10)(("a2", 1)) ++ Seq.fill(30)(("a2", 2))
    val df = rows.toDF("a", "b")
    val row = StatTests.cramersV(df, "a", "b").collect().head
    assert(row.getAs[Long]("n") === 80L)
    assert(row.getAs[Long]("chi2_e6") === 20000000L)
    assert(row.getAs[Long]("cramers_v_e6") === 500000L)
    // absent cell: drop a2/b2 entirely → grid still carries its expected mass
    val df2 = rows.filterNot(r => r._1 == "a2" && r._2 == 2).toDF("a", "b")
    val r2 = StatTests.cramersV(df2, "a", "b").collect().head
    assert(r2.getAs[Long]("n") === 50L)
    assert(r2.getAs[Long]("chi2_e6") > 0L)
  }

  test("spearmanRho matches a brute-force avg-rank Pearson (with ties)") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(19)
    val xs = Seq.fill(120)(rnd.nextInt(15).toLong)
    val ys = xs.map(x => x * 3 + rnd.nextInt(20)) // positively associated
    val df = xs.zip(ys).map { case (x, y) => ("g", x, y) }.toDF("g", "x", "y")
    val row = StatTests
      .spearmanRho(df, "g", col("x"), col("y")).collect().head
    def avgRanks(v: Seq[Long]): Seq[Double] = {
      val sorted = v.sorted
      v.map { x =>
        val lo = sorted.count(_ < x); val c = sorted.count(_ == x)
        lo + (c + 1) / 2.0
      }
    }
    val rx = avgRanks(xs); val ry = avgRanks(ys)
    val n = xs.size.toDouble
    val mx = rx.sum / n; val my = ry.sum / n
    val cov = rx.zip(ry).map { case (a, b) => (a - mx) * (b - my) }.sum
    val vx = rx.map(a => (a - mx) * (a - mx)).sum
    val vy = ry.map(b => (b - my) * (b - my)).sum
    val rho = cov / math.sqrt(vx * vy)
    assert(row.getAs[Long]("n") === 120L)
    assert(math.abs(row.getAs[Long]("rho_e6") - math.floor(rho * 1e6)) <= 1)
    assert(row.getAs[Long]("rho_e6") > 500000L) // strong positive
  }

  test("spearmanRho is exactly ±1e6 on perfectly monotone data") {
    import org.apache.spark.sql.functions.col
    val df = (1 to 50).map(i => ("g", i.toLong, (1000 - i).toLong))
      .toDF("g", "x", "y")
    val r = StatTests.spearmanRho(df, "g", col("x"), col("y")).collect().head
    assert(r.getAs[Long]("rho_e6") === -1000000L)
  }

  test("theilsU: determined A gives U=1, independent-ish A gives small U") {
    import org.apache.spark.sql.functions.col
    // A fully determined by B → H(A|B)=0 → U=1
    val det = (1 to 200).map(i => (s"a${i % 4}", i % 4)).toDF("a", "b")
    val r1 = StatTests.theilsU(det, col("a"), col("b")).collect().head
    assert(r1.getAs[Long]("h_cond_e6") === 0L)
    assert(r1.getAs[Long]("theils_u_e6") === 1000000L)
    // A independent of B (balanced grid) → U ≈ 0
    val ind = (0 until 400).map(i => (s"a${i % 4}", (i / 4) % 5)).toDF("a", "b")
    val r2 = StatTests.theilsU(ind, col("a"), col("b")).collect().head
    assert(math.abs(r2.getAs[Long]("theils_u_e6")) < 5000L)
  }

  test("categoricalIV matches a hand-computed WOE/IV and drops zero cells") {
    import org.apache.spark.sql.functions.col
    // cat A: 30 good / 10 bad; cat B: 10 good / 30 bad; cat C: 5 good / 0 bad
    val rows = Seq.fill(30)(("A", 1L)) ++ Seq.fill(10)(("A", 0L)) ++
      Seq.fill(10)(("B", 1L)) ++ Seq.fill(30)(("B", 0L)) ++
      Seq.fill(5)(("C", 1L))
    val df = rows.toDF("cat", "label")
    val out = StatTests.categoricalIV(df, col("cat"), col("label"))
      .collect().map(r => r.getAs[String]("category") -> r).toMap
    assert(!out.contains("C")) // zero bad cell excluded
    val G = 45.0; val B = 40.0
    val woeA = math.log((30 / G) / (10 / B))
    val ivA = (30 / G - 10 / B) * woeA
    assert(math.abs(out("A").getAs[Long]("woe_e6") - math.floor(woeA * 1e6)) <= 1)
    assert(math.abs(out("A").getAs[Long]("iv_term_e9") - math.floor(ivA * 1e9)) <= 1)
    // B's WOE is NOT the negation of A's — C's good-only rows skew G
    val woeB = math.log((10 / G) / (30 / B))
    assert(math.abs(out("B").getAs[Long]("woe_e6") - math.floor(woeB * 1e6)) <= 1)
  }

  test("theilsU property: matches a direct entropy computation on " +
    "random contingency tables") {
    import org.apache.spark.sql.functions.col
    import org.scalacheck.Gen
    val genTable: Gen[Seq[(String, Int)]] = for {
      rows <- Gen.choose(50, 300)
      nA <- Gen.choose(2, 5)
      nB <- Gen.choose(2, 6)
      cells <- Gen.listOfN(rows, Gen.zip(
        Gen.choose(0, nA - 1), Gen.choose(0, nB - 1)))
    } yield cells.map { case (a, b) => (s"a$a", b) }
    PropertySampling.forAllSeeded(genTable, n = 10) { rows =>
      val r = StatTests.theilsU(rows.toDF("a", "b"), col("a"), col("b"))
        .collect().head
      val n = rows.size.toDouble
      def h(counts: Iterable[Int]): Double =
        math.log(n) - counts.map(c => c * math.log(c)).sum / n
      val hA = h(rows.groupBy(_._1).values.map(_.size))
      val hBsum = rows.groupBy(_._2).values.map(_.size)
        .map(c => c * math.log(c)).sum
      val hABsum = rows.groupBy(identity).values.map(_.size)
        .map(c => c * math.log(c)).sum
      val hCond = (hBsum - hABsum) / n
      // e6-floored ladder vs direct doubles: a few micro-nats of slack
      assert(math.abs(r.getAs[Long]("h_a_e6") - hA * 1e6) < 10,
        s"hA rows=${rows.size}")
      assert(math.abs(r.getAs[Long]("h_cond_e6") - hCond * 1e6) < 10)
      if (hA > 1e-9) {
        val u = (hA - hCond) / hA
        assert(math.abs(r.getAs[Long]("theils_u_e6") - u * 1e6) < 100)
      }
    }
  }

  test("degenerate inputs: constant-column Spearman and single-category " +
    "Theil's U are null, empty-input GD regression returns zeros") {
    import org.apache.spark.sql.functions.col
    import graft.query.Stats
    val const = (1 to 20).map(i => ("g", 7L, i.toLong)).toDF("g", "x", "y")
    val r = StatTests.spearmanRho(const, "g", col("x"), col("y"))
      .collect().head
    assert(r.isNullAt(r.fieldIndex("rho_e6"))) // vx = 0, no ANSI throw
    val single = (1 to 10).map(i => ("onlyA", i % 3)).toDF("a", "b")
    val t = StatTests.theilsU(single, col("a"), col("b")).collect().head
    assert(t.getAs[Long]("h_a_e6") === 0L)
    assert(t.isNullAt(t.fieldIndex("theils_u_e6")))
    val empty = Seq.empty[(Long, Long)].toDF("x", "y6")
    val g = Stats.gdLinearRegression(empty, col("x"), col("y6"), epochs = 3)
      .collect().head
    assert((g.getLong(0), g.getLong(1), g.getLong(2)) === ((0L, 0L, 0L)))
  }

  test("gdLinearRegression matches an independent BigInt replay exactly " +
    "and reduces loss on correlated data") {
    import org.apache.spark.sql.functions.col
    import graft.query.Stats
    val rnd = new scala.util.Random(41)
    // y = 3x + 7 + noise, in e6 fixed-point
    val data = (0 until 300).map { _ =>
      val x = rnd.nextInt(100).toLong
      val y6 = (3L * x + 7L + rnd.nextInt(5) - 2) * 1000000L
      (x, y6)
    }
    val df = data.toDF("x", "y6")
    val row = Stats.gdLinearRegression(
      df, col("x"), col("y6"), epochs = 8).collect().head
    // independent replay: plain Scala BigInt, truncating division
    var w = BigInt(0); var b = BigInt(0)
    val n = BigInt(data.size)
    (0 until 8).foreach { _ =>
      val errs = data.map { case (x, y6) => w * x + b - y6 }
      val gw = errs.zip(data).map { case (e, (x, _)) => e * x }.sum
      val gb = errs.sum
      w -= (2 * gw) / (n * 10000)
      b -= (2 * gb) / (n * 10)
    }
    assert(row.getAs[Long]("w_e6") === w.toLong)
    assert(row.getAs[Long]("b_e6") === b.toLong)
    assert(row.getAs[Long]("n") === 300L)
    // trained model beats the zero model on SSE (it learned something)
    def sse(we6: Long, be6: Long): BigInt =
      data.map { case (x, y6) =>
        val e = BigInt(we6 * x + be6 - y6); e * e
      }.sum
    assert(sse(row.getAs[Long]("w_e6"), row.getAs[Long]("b_e6")) <
      sse(0L, 0L))
    // slope direction learned on positively-correlated data
    assert(row.getAs[Long]("w_e6") > 0L)
  }

  test("corrMatrixE6: perfect/anti-correlated pairs at ±1e6, " +
    "zero-variance pairs NULL, all 6 cells present") {
    import org.apache.spark.sql.functions.col
    import graft.query.Stats
    val df = (1 to 100).map(i => (i.toLong, 2L * i, 101L - i, 7L))
      .toDF("a", "b", "c", "k")
    val out = Stats.corrMatrixE6(df, Seq(
      "a" -> col("a"), "b" -> col("b"), "c" -> col("c"), "k" -> col("k")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out.size === 6)
    // b = 2a exactly; c = 101 - a exactly (floor of the double tree may
    // shave an ulp off ±1.0)
    assert(out(("a", "b")).exists(v => v >= 999998L && v <= 1000000L), out)
    assert(out(("a", "c")).exists(v => v <= -999998L), out)
    // k is constant: every pair with k is NULL, others are defined
    assert(out(("a", "k")) === None)
    assert(out(("b", "k")) === None)
    assert(out(("c", "k")) === None)
    assert(out(("b", "c")).isDefined)
  }

  test("gdLinearModel2Scores matches an independent BigInt replay and " +
    "separates a feature-determined label") {
    import org.apache.spark.sql.functions.col
    import graft.query.Stats
    val rnd = new scala.util.Random(43)
    // label is a noisy function of x1: positives have larger x1
    val data = (0 until 400).map { i =>
      val pos = i % 2 == 0
      val x1 = (if (pos) 60 else 30) + rnd.nextInt(20)
      val x2 = rnd.nextInt(10)
      (i.toLong, x1.toLong, x2.toLong, if (pos) 1000000L else 0L)
    }
    val df = data.toDF("id", "x1", "x2", "y6")
    val scores = Stats.gdLinearModel2Scores(
      df, col("id"), col("x1"), col("x2"), col("y6"), epochs = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent replay: plain BigInt, truncating division
    var w1 = BigInt(0); var w2 = BigInt(0); var b = BigInt(0)
    val n = BigInt(data.size)
    (0 until 8).foreach { _ =>
      val errs = data.map { case (_, x1, x2, y6) => w1 * x1 + w2 * x2 + b - y6 }
      w1 -= (2 * errs.zip(data).map { case (e, (_, x1, _, _)) => e * x1 }.sum) /
        (n * 10000)
      w2 -= (2 * errs.zip(data).map { case (e, (_, _, x2, _)) => e * x2 }.sum) /
        (n * 10000)
      b -= (2 * errs.sum) / (n * 10)
    }
    data.foreach { case (id, x1, x2, _) =>
      assert(scores(id) === (w1 * x1 + w2 * x2 + b).toLong)
    }
    // trained scores separate the classes
    val (pos, neg) = data.partition(_._4 > 0L)
    val avgPos = pos.map(d => scores(d._1)).sum / pos.size
    val avgNeg = neg.map(d => scores(d._1)).sum / neg.size
    assert(avgPos > avgNeg + 100000L,
      s"no separation: pos=$avgPos neg=$avgNeg")
  }
  test("CMS estimates: over-estimate-only, exact at ample width, " +
    "slice-merge invariant") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.query.Stats
    // keys 0..99 with frequency i+1, spread over 5 slices
    val rows = for (k <- 0 until 100; r <- 0 to k) yield (k.toLong, r % 5)
    val df = rows.toDF("k", "slice")
    val exact = rows.groupBy(_._1).map { case (k, v) => (k, v.size.toLong) }
    // width 8 << 100 keys: heavy collisions -- CMS must only OVER-count
    val est8 = Stats.cmsEstimates(df, "k", col("slice"), width = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(est8.keySet === exact.keySet)
    for ((k, c) <- exact) assert(est8(k) >= c, s"under-count at key $k")
    assert(exact.exists { case (k, c) => est8(k) > c },
      "width 8 over 100 keys should collide somewhere")
    // width 4096 with depth 4: an all-rows collision is ~impossible,
    // so estimates are exact
    val est4k = Stats.cmsEstimates(df, "k", col("slice"), width = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(est4k === exact.toMap)
    // merge-by-addition: slicing cannot change the merged estimates
    val unsliced = Stats.cmsEstimates(df, "k", lit(0), width = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(unsliced === est8)
    // the cells frame IS the persisted artifact: parquet round-trip
    // finalizes to the same estimates (the pre-aggregated daily-sketch
    // table of a production pipeline)
    val dir = java.nio.file.Files.createTempDirectory("graft-cms").toString
    Stats.cmsCells(df, "k", col("slice"), depth = 4, width = 8)
      .write.mode("overwrite").parquet(dir)
    val fromDisk = Stats.cmsEstimatesFromCells(
      spark.read.parquet(dir), df.select(col("k")).distinct(), "k",
      width = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fromDisk === est8)
    // geometry guard: finalizing with a different width must refuse at
    // execution (the in-plan assert_true), not silently under-count
    val ex = intercept[Throwable] {
      Stats.cmsEstimatesFromCells(
        spark.read.parquet(dir), df.select(col("k")).distinct(), "k",
        width = 512).collect()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("geometry mismatch"), msgs)
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
