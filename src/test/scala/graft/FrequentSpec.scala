package graft

import org.apache.spark.sql.functions._
import graft.ext.Frequent

/** Heavy hitters must be EXACT (count ≥ ⌈φN⌉, exact counts) even when
  * the distinct-key universe vastly exceeds the sketch capacity — the
  * regime the Misra–Gries candidate pass exists for.
  */
class FrequentSpec extends SparkSpec {
  import spark.implicits._

  import PropertySampling.forAllSeeded

  test("property: both sketches' survivor sets satisfy the MG guarantee") {
    import org.scalacheck.Gen
    // random streams over a small alphabet with zipf-ish repetition +
    // random caps: every item above the guarantee line must survive the
    // pure sketch, with its estimate within the undercount bound
    val gen = for {
      nItems <- Gen.choose(5, 60)
      len <- Gen.choose(50, 800)
      items <- Gen.listOfN(len, Gen.choose(1, nItems).map(i => s"i${i * i % nItems}"))
      cap <- Gen.choose(4, 24)
    } yield (items, cap)
    forAllSeeded(gen, n = 30) { case (items, cap) => // explicit domain: seeds 0-29
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = items.size.toLong
      val m = graft.ext.Frequent.misraGries(items.iterator, cap)
      exact.foreach { case (k, c) =>
        if (c > n / (cap + 1))
          assert(m.contains(k), s"$k count=$c n=$n cap=$cap must survive")
        assert(m.getOrElse(k, 0L) <= c, s"$k overcounted")
        assert(m.getOrElse(k, 0L) >= c - n / (cap + 1), s"$k bound")
      }
      // weighted variant on the same stream with weight = 1 must obey
      // the identical bound (W = n)
      val mw = graft.ext.Frequent.misraGriesWeighted(
        items.iterator.map((_, 1L)), cap)
      exact.foreach { case (k, c) =>
        if (c > n / (cap + 1)) assert(mw.contains(k), s"weighted $k")
        assert(mw.getOrElse(k, 0L) <= c)
        assert(mw.getOrElse(k, 0L) >= c - n / (cap + 1))
      }
    }
  }

  test("misra-gries per-partition summary: undercount bound, survivors") {
    // 1000 of "a", 500 of "b", 2000 distinct singletons; cap 10
    val stream = scala.util.Random.shuffle(
      List.fill(1000)("a") ++ List.fill(500)("b") ++
        (0 until 2000).map(i => s"x$i").toList)
    val m = Frequent.misraGries(stream.iterator, 10)
    assert(m.size <= 10)
    val n = stream.size
    // undercount ≤ n/(cap+1); both heavy items must survive with
    // est ≥ true - n/11
    assert(m.getOrElse("a", 0L) >= 1000L - n / 11)
    assert(m.getOrElse("b", 0L) >= 500L - n / 11)
    assert(m("a") <= 1000L && m.getOrElse("b", 0L) <= 500L)
  }

  test("heavyHitters equals exact groupBy-filter on a skewed corpus") {
    // zipf-ish: item i appears ceil(3000/i) times, i in 1..400 →
    // ~400 distinct keys, N ≈ 19.5k; phi=0.05 → cap=40 << 400 distinct
    val rows = (1 to 400).flatMap(i =>
      Seq.fill(math.ceil(3000.0 / i).toInt)(s"item$i"))
    val df = scala.util.Random.shuffle(rows).toDF("item")
      .repartition(13) // many partitions: per-partition summaries merge
    val phi = 0.05
    val got = Frequent.heavyHitters(df, "item", phi)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = rows.size
    val thr = math.ceil(phi * n).toLong
    val want = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= thr).toMap
    assert(got === want)
    assert(got.nonEmpty && got.size < 400) // non-trivial selection
  }

  test("heavyHitters exact when phi selects nothing") {
    val df = (1 to 100).map(i => s"u$i").toDF("item")
    assert(Frequent.heavyHitters(df, "item", 0.5).count() === 0L)
  }

  test("weighted misra-gries: undercount bound on a weighted stream") {
    // "a" carries 10000 mass, "b" 5000, 2000 singletons of weight 3
    val stream = scala.util.Random.shuffle(
      List.fill(100)(("a", 100L)) ++ List.fill(50)(("b", 100L)) ++
        (0 until 2000).map(i => (s"x$i", 3L)).toList)
    val m = Frequent.misraGriesWeighted(stream.iterator, 10)
    assert(m.size <= 10)
    val w = stream.map(_._2).sum
    assert(m.getOrElse("a", 0L) >= 10000L - w / 11)
    assert(m.getOrElse("b", 0L) >= 5000L - w / 11)
    assert(m("a") <= 10000L && m.getOrElse("b", 0L) <= 5000L)
  }

  test("heavyHittersWeighted equals exact groupBy-sum-filter; skew + negatives") {
    // item i carries total weight ~ ceil(60000/i) spread over ceil(i/4)+1
    // rows; a few negative/zero-weight rows must be ignored
    val rows = (1 to 300).flatMap { i =>
      val n = i / 4 + 1
      val per = math.max(1L, 60000L / i / n)
      Seq.fill(n)((s"item$i", per))
    } ++ Seq(("item1", -5L), ("junk", 0L))
    val df = scala.util.Random.shuffle(rows).toDF("item", "w").repartition(11)
    val phi = 0.02
    val got = Frequent.heavyHittersWeighted(df, "item", "w", phi)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pos = rows.filter(_._2 > 0)
    val totalW = pos.map(_._2).sum
    val thr = math.ceil(phi * totalW).toLong
    val want = pos.groupBy(_._1).view
      .mapValues(_.map(_._2).sum).filter(_._2 >= thr).toMap
    assert(got === want)
    assert(got.nonEmpty && got.size < 300)
  }

  test("heavyHitters keeps the native column type") {
    // 7L appears 51 times: the fill plus its one occurrence in 1..20
    val df = (Seq.fill(50)(7L) ++ (1L to 20L)).toDF("id")
    val got = Frequent.heavyHitters(df, "id", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((7L, 51L)))
  }
}
