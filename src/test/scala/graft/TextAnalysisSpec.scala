package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextAnalysis}

/** Value-level pins for the text-pipeline operators added on top of the
  * oracle checks (t8/t9/d7): scrubbing, repetition stats, keep-best
  * dedup survivor policy. */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("scrubPii redacts emails and phone numbers, counts match") {
    val df = Seq(
      ("a", "write to bob@example.com or call +1 555 123 4567 now"),
      ("b", "no pii here"),
      ("c", "two mails x@y.io and a.b-c@d-e.org")).toDF("id", "t")
    val out = df.select(
      col("id"),
      TextAnalysis.countEmails(col("t")).as("n"),
      TextAnalysis.scrubPii(col("t")).as("s"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(out("a")._1 === 1)
    assert(out("a")._2 === "write to [EMAIL] or call [PHONE] now")
    assert(out("b") === ((0, "no pii here")))
    assert(out("c")._1 === 2)
    assert(!out("c")._2.contains("@"))
  }

  test("repetitionProfile: totals, distinct and max frequency are exact") {
    val df = Seq((1L, "a a a b c"), (2L, "x y")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionProfile(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((5L, 3L, 3L)))
    assert(out(2L) === ((2L, 2L, 1L)))
  }

  test("lmScore: hand-computed bigram log-probs, short docs score 0/0") {
    val docs = Seq(
      (1L, "a b a b"), // bigrams (a,b),(b,a),(a,b)
      (2L, "a b"),
      (3L, "z")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // c2: (a,b)=3, (b,a)=1; c1: a=3, b=1; vocab {a,b,z} = 3
    // lp(a,b) = floor(1e6*ln((3+1)/(3+3))) = floor(-405465.108) = -405466
    // lp(b,a) = floor(1e6*ln((1+1)/(1+3))) = floor(-693147.18)  = -693148
    assert(out(1L) === ((3L, 2L * -405466L + -693148L)))
    assert(out(2L) === ((1L, -405466L)))
    assert(out(3L) === ((0L, 0L)))
  }

  test("dedupAgainstCorpus drops corpus-seen digests, keeps min id per batch digest") {
    val corpus = Seq((1L, "seen text"), (2L, "other seen")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen text"), // already in corpus -> dropped
      (11L, "fresh one"), (13L, "fresh one"), // batch dup -> keep 11, n=2
      (12L, "unique fresh")).toDF("doc_id", "text")
    val out = Dedup.dedupAgainstCorpus(batch, "doc_id", "text", corpus, "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out === Map(11L -> 2L, 12L -> 1L))
  }

  test("shardByHash: total cover, contiguous in-shard positions, layout-independent") {
    import graft.ext.Splits
    val docs = (0L until 200L).map(i => Tuple1(i)).toDF("doc_id")
    val a = Splits.shardByHash(docs, "doc_id", 8)
      .select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(a.length === 200)
    assert(a.map(_._2).forall(s => s >= 0 && s < 8))
    // positions within each shard are exactly 1..size
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
    // same assignment regardless of physical layout
    val b = Splits.shardByHash(docs.repartition(7), "doc_id", 8)
      .select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(a.sortBy(_._1).toSeq === b.sortBy(_._1).toSeq)
  }

  test("nearDupClusters merges transitive chains to the min id (both paths)") {
    // chain 1-2, 2-3 (one cluster), isolated pair 7-9, singleton 5 absent
    val pairs = Seq((2L, 3L), (1L, 2L), (7L, 9L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    // default: small graph -> driver union-find path
    val local = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === expected)
    // localEdgeLimit=0 forces the distributed label-propagation path
    val dist = Dedup.nearDupClusters(pairs, localEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === expected)
  }

  test("nearDupClusters: null ids dropped, schemas equal across both paths") {
    val pairs = Seq(
      (Some(1L), Some(2L)), (None, Some(5L)), (Some(9L), None))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L) // null edges contribute nothing
    for (limit <- Seq(0L, 1L << 20)) {
      val out = Dedup.nearDupClusters(pairs, localEdgeLimit = limit)
      assert(out.schema("id").dataType ===
        org.apache.spark.sql.types.LongType)
      assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        === expected, s"limit=$limit")
    }
  }

  test("nearDupClusters equals driver union-find on random pair graphs") {
    // seeded random graphs (repo convention: raw scalacheck-free loop);
    // the distributed min-label fixpoint must equal classic union-find
    // with min-representative
    for (seed <- 0 until 15) {
      val rnd = new scala.util.Random(seed)
      val n = 2 + rnd.nextInt(30)
      val pairs = Seq.fill(1 + rnd.nextInt(40))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      if (pairs.nonEmpty) {
        // union-find reference
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int =
          if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        val expected = ids.map(i => i -> find(i.toInt).toLong).toMap
        // union-find reps are component minima because unions always
        // point larger roots at smaller ones and every id is its own
        // initial root. Pin BOTH the adaptive local path (default) and
        // the distributed pointer-jumping loop (limit=0) to it.
        val local = Dedup.nearDupClusters(pairs.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(local === expected, s"local path seed=$seed pairs=$pairs")
        val dist = Dedup
          .nearDupClusters(pairs.toDF("id_a", "id_b"), localEdgeLimit = 0)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(dist === expected, s"distributed path seed=$seed pairs=$pairs")
      }
    }
  }

  test("dedupCorpusByNgram: one survivor per near-dup cluster, singletons kept") {
    // docs 1..3 share almost all trigrams (one cluster); 4 and 5 unique
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "completely different words in this document here now"),
      (5L, "and another unrelated text goes right here friends")).toDF("doc_id", "text")
    // score: favor doc 2 so the survivor is NOT just the min id
    val score = when(col("doc_id") === 2L, 100L).otherwise(lit(10L))
    val out = Dedup.dedupCorpusByNgram(docs, "doc_id", "text", score,
      threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(out.keySet === Set(2L, 4L, 5L))
    assert(out(2L) === ((1L, 3L))) // cluster rooted at min id 1, 3 members
    assert(out(4L) === ((4L, 1L)))
    assert(out(5L) === ((5L, 1L)))
  }

  test("contamination: benchmark overlap fractions are exact") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // = benchmark doc
      (2L, "alpha beta gamma zeta eta theta iota"), // shares 1 of 5 shingles
      (3L, "totally unrelated words right here now")).toDF("doc_id", "text")
    val bench = docs.where(col("doc_id") === 1L)
    val out = Dedup.contamination(docs, "doc_id", "text", bench, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((3L, 3L, 10000L))) // self: fully contaminated
    // doc 2: shingles of 7 tokens = 5; shares exactly "alpha beta gamma"
    assert(out(2L) === ((5L, 1L, 2000L)))
    assert(out(3L)._2 === 0L)
    assert(out(3L)._3 === 0L)
  }

  test("dupSpanProfile counts planted shared 8-gram spans exactly") {
    val boiler = "one two three four five six seven eight" // 8 tokens
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$boiler iota kappa lambda mu nu xi omicron pi"),
      (3L, "rho sigma tau upsilon phi chi psi omega aa bb cc dd"),
      (4L, "short doc only")) // < 8 tokens → no spans
      .toDF("doc_id", "text")
    val out = Dedup.dupSpanProfile(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // docs 1/2: 16 tokens → 9 spans each; only the span at position 1
    // (the full boilerplate prefix) is identical across docs
    assert(out(1L) === ((9L, 1L)))
    assert(out(2L) === ((9L, 1L)))
    assert(out(3L) === ((5L, 0L))) // 12 tokens → 5 spans, none shared
    assert(!out.contains(4L))
  }

  test("dedupSpans cuts exactly the cross-document span, keeps the rest") {
    val boiler = "one two three four five six seven eight" // 8 tokens
    val docs = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"$boiler iota kappa"),
      (3L, "completely unrelated twelve tokens here for the third document now ok"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // the boilerplate span (and only it) disappears from both docs
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out(1L) === ((md5hex("alpha beta gamma delta"), 4L, 8L)))
    assert(out(2L) === ((md5hex("iota kappa"), 2L, 8L)))
    assert(out(3L)._3 === 0L) // untouched doc: nothing removed
    assert(out(3L)._2 === 11L)
  }

  test("gopherFlags: each rule trips on its crafted violation") {
    val good = ("g", (1 to 60).map(i => s"word$i").mkString(" ") +
      " the of and in") // 64 tokens, sane lengths, stopwords present
    val docs = Seq(
      good,
      ("short", "too few tokens here"), // f_wordcount = 0
      ("syms", (1 to 50).map(_ => "#").mkString(" ") + " the of"), // symbols + wordlen
      ("bullet", "- " + (1 to 60).map(i => s"tok$i").mkString(" ") +
        " the of and in"), // f_bullet = 0
      ("nostop", (1 to 60).map(i => s"zz$i").mkString(" "))) // f_stopwords = 0
      .toDF("id", "text")
    val out = docs
      .select(col("id"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"),
        TextAnalysis.charSum(col("text")).cast("long").as("cs"))
      .select(col("id"),
        TextAnalysis.gopherFlags(col("text"), col("toks"),
          size(col("toks")).cast("long"), col("cs")).as("f"))
      .select("id", "f.f_wordcount", "f.f_wordlen", "f.f_symbols",
        "f.f_bullet", "f.f_stopwords")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(out("g") === ((1L, 1L, 1L, 1L, 1L)))
    assert(out("short")._1 === 0L)
    assert(out("syms")._3 === 0L) // 50 '#' vs 52 tokens → ratio > 1/10
    assert(out("syms")._2 === 0L) // mean word length ~1 < 3
    assert(out("bullet")._4 === 0L)
    assert(out("nostop")._5 === 0L)
  }

  test("tfidfTopTerms ranks a planted rare term first") {
    // 'rare' appears 3x in doc 1 only; filler terms appear everywhere
    val common = "alpha beta gamma delta"
    val docs = Seq(
      (1L, s"rare rare rare $common"),
      (2L, s"$common $common"),
      (3L, s"$common alpha alpha"),
      (4L, s"$common beta")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
    val top1 = out.where(col("doc_id") === 1L && col("rk") === 1L)
      .select("term").collect().map(_.getString(0))
    assert(top1.toSeq == Seq("rare"))
    // common-everywhere terms have idf ln(4/4)=0 → score 0; ranks 2+ tie
    // on score and break by term asc
    val d2 = out.where(col("doc_id") === 2L).orderBy("rk")
      .select("term", "score_e6").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(d2.toSeq == Seq(("alpha", 0L), ("beta", 0L)))
  }

  test("temperatureMix flattens domain skew, keeps the smallest domain whole") {
    import graft.ext.Splits
    // 400 web / 100 code docs
    val docs = (0 until 500).map { i =>
      (i.toLong, if (i < 400) "web" else "code")
    }.toDF("doc_id", "domain")
    val rates = Splits.temperatureRates(docs, "domain")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rates("code") === ((100L, 256L))) // smallest: keep all
    assert(rates("web") === ((400L, 128L))) // √(100/400) = 1/2 → 128/256
    val mixed = Splits.temperatureMix(docs, "doc_id", "domain")
    val kept = mixed.groupBy("domain").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("code") === 100L)
    // hash-bucket sampling: expect ~200 of 400; exact value is
    // deterministic, bounded well away from 100/400
    assert(kept("web") > 140L && kept("web") < 260L, kept.toString)
    // layout-independent: same sample under a different partitioning
    val kept2 = Splits.temperatureMix(docs.repartition(7), "doc_id", "domain")
      .groupBy("domain").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept2 === kept)
  }

  test("capPerKey: exact per-key ceiling, lowest-hash-wins selection, " +
    "layout-independent, under-cap keys kept whole") {
    import graft.ext.Splits
    val docs = (0 until 500).map { i =>
      (i.toLong, if (i < 400) "web" else if (i < 490) "code" else "math")
    }.toDF("doc_id", "domain")
    val capped = Splits.capPerKey(docs, "domain", "doc_id", cap = 50)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byKey = capped.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byKey("web").size === 50)
    assert(byKey("code").size === 50)
    assert(byKey("math").size === 10) // under cap: kept whole
    // selection = the 50 lowest pmd5(id) per key (driver replay)
    def pmd5(id: Long): BigInt = BigInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    val wantWeb = (0L until 400L).sortBy(i => (pmd5(i), i)).take(50).toSet
    assert(byKey("web") === wantWeb)
    // layout-independent: identical sample under a different
    // partitioning (the assignSplit no-RNG discipline)
    val again = Splits.capPerKey(
      docs.repartition(7), "domain", "doc_id", cap = 50)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(again === byKey)
  }

  test("winnow: matches brute force; shared runs share a fingerprint") {
    val shared = "alpha beta gamma delta epsilon zeta" // w+k-1 = 6 tokens
    val texts = Map(
      1L -> s"one two three $shared four five six",
      2L -> s"$shared completely different tail tokens here",
      3L -> "tiny doc", // < k tokens -> no fingerprints
      4L -> "x y z") // exactly k -> one gram, one (clipped) window
    val docs = texts.toSeq.toDF("doc_id", "text")

    // independent reference implementation (plain Scala, same md5
    // 60-bit idiom) — a real differential against the SQL expressions
    def bruteFps(text: String, k: Int = 3, w: Int = 4): Set[Long] = {
      val t = text.trim.split(" +").toSeq
      if (t.size < k) Set.empty
      else {
        val hs = (0 to t.size - k).map { i =>
          val g = t.slice(i, i + k).mkString(" ")
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
          java.lang.Long.parseLong(md.take(15), 16)
        }
        val nWins = math.max(1, hs.size - w + 1)
        (0 until nWins).map(i => hs.slice(i, math.min(i + w, hs.size)).min).toSet
      }
    }

    val out = TextAnalysis.winnow(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for ((id, text) <- texts) {
      val fps = bruteFps(text)
      assert(out(id) === ((fps.size.toLong, fps.foldLeft(0L)(_ ^ _))),
        s"doc $id")
    }
    assert(out(3L) === ((0L, 0L)))
    // the winnowing guarantee: a shared w+k-1-token run implies a
    // shared fingerprint
    assert(bruteFps(texts(1L)).intersect(bruteFps(texts(2L))).nonEmpty)
  }

  test("winnowPairs finds planted shared-run pairs, skips disjoint docs") {
    val run = "the quick brown fox jumps over lazy dogs tonight again"
    val docs = Seq(
      (1L, s"prefix tokens here $run and a suffix"),
      (2L, s"$run with an entirely different ending clause"),
      (3L, "completely unrelated text about winter mountain weather"),
      (4L, "another disjoint document regarding summer ocean currents")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("dedupKeepBest keeps the highest score, then the lowest id") {
    val df = Seq(
      (1L, "same text", 5L), (2L, "same text", 9L), (3L, "same text", 9L),
      (4L, "unique", 1L)).toDF("doc_id", "text", "q")
    val out = Dedup.dedupKeepBest(df, "doc_id", "text", col("q"))
      .select("doc_id", "n_dups")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // score 9 beats 5; among the two 9s the lower id (2) survives
    assert(out === Map(2L -> 3L, 4L -> 1L))
  }

  test("zipfSlope recovers ~-1 on an exact Zipf corpus and counts vocab") {
    // token wi appears floor(600/i) times → rank-frequency curve is
    // exactly Zipfian with exponent -1
    val words = (1 to 40).flatMap(i => Seq.fill(600 / i)(f"w$i%02d"))
    val docs = words.grouped(50).zipWithIndex
      .map { case (ws, i) => (i.toLong, "srcA", ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "source", "text")
    val r = TextAnalysis.zipfSlope(docs, "source", "text")
      .collect().head
    assert(r.getAs[Long]("vocab") === 40L)
    assert(r.getAs[Long]("total_tokens") === words.size.toLong)
    val slope = r.getAs[Long]("zipf_slope_e6") / 1e6
    // floor(600/i) quantization + OLS-on-logs noise → within 0.08
    assert(math.abs(slope + 1.0) < 0.08, s"slope $slope")
  }

  test("dsirWeights ranks target-like docs above raw-like, exact token counts") {
    // target slice speaks A-words, the raw-only pool speaks B-words;
    // two unlabeled probe docs — one in each dialect — must separate.
    // 100 tokens per doc: the corpus must carry enough token mass that
    // true bucket counts dominate the +1-per-bucket smoothing (B=4096),
    // exactly as at data scale
    val aWords = Seq.fill(20)("alpha beta gamma delta epsilon").mkString(" ")
    val bWords = Seq.fill(20)("zork quux blarg frotz yonk").mkString(" ")
    val docs = (
      (0 until 10).map(i => (i.toLong, true, aWords)) ++
        (10 until 30).map(i => (i.toLong, false, bWords)) :+
        (100L, false, aWords) :+ (101L, false, bWords)
      ).toDF("doc_id", "is_t", "text")
    val w = TextAnalysis.dsirWeights(docs, "doc_id", "text", col("is_t"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(w.values.forall(_._1 === 100L)) // every doc has 100 tokens
    val (aProbe, bProbe) = (w(100L)._2, w(101L)._2)
    assert(aProbe > 0 && bProbe < 0,
      s"target-dialect probe $aProbe should be positive, raw-dialect $bProbe negative")
    // weight is a pure function of the token multiset
    assert(w(100L)._2 === w(0L)._2 && w(101L)._2 === w(10L)._2)
  }

  test("unigramKl: single slice is exactly zero, vocab-shifted slice " +
    "dominates a same-distribution slice") {
    // one slice: p == q term-by-term (same counts, same totals) →
    // every per-term floor is floor(ln(1)·…) = 0 exactly
    val solo = Seq((1L, "a", "x y x z"), (2L, "a", "y z z"))
      .toDF("doc_id", "source", "text")
    val k0 = TextAnalysis.unigramKl(solo, "source", "text")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(k0 === Map("a" -> 0L))
    // three slices: b repeats a's distribution; c is disjoint vocab —
    // c's divergence must dominate both, and a ≈ b by symmetry
    val mixed = Seq(
      (1L, "a", "x y x z"), (2L, "a", "y z z"),
      (3L, "b", "x y x z"), (4L, "b", "y z z"),
      (5L, "c", "q r q r q r w")).toDF("doc_id", "source", "text")
    val kl = TextAnalysis.unigramKl(mixed, "source", "text")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(kl("a") === kl("b"), "identical slices must tie exactly")
    assert(kl("c") > kl("a") * 2, "disjoint vocab must dominate")
    spark.catalog.clearCache()
  }

  test("blocklistHits counts phrase occurrences and distinct docs") {
    val docs = Seq(
      (1L, "a b c a b"),
      (2L, "b c d"),
      (3L, "c")).toDF("doc_id", "text")
    val got = TextAnalysis.blocklistHits(
      docs, "doc_id", "text", Seq("b c", "c", "zz"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // "b c" as bigram: doc1 once, doc2 once; "c": doc1 once, doc2
    // once, doc3 once; "zz" never occurs → absent, not zero-row
    assert(got === Map("b c" -> ((2L, 2L)), "c" -> ((3L, 3L))))
  }

  test("blocklistFilter drops exactly the docs containing a phrase") {
    val docs = Seq(
      (1L, "clean text here"),
      (2L, "contains bad word now"),
      (3L, "two token phrase bad word split"), // "bad word" bigram hits
      (4L, "word bad reversed is fine")).toDF("doc_id", "text")
    val kept = TextAnalysis.blocklistFilter(
      docs, "doc_id", "text", Seq("bad word"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L))
    // multi-phrase: unigram + bigram mix
    val kept2 = TextAnalysis.blocklistFilter(
      docs, "doc_id", "text", Seq("bad word", "clean"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 === Set(4L))
  }

  test("blocklist phrase lists normalize: messy whitespace matches, " +
    "duplicates don't double-count, all-blank lists reject") {
    val docs = Seq(
      (1L, "contains bad word now"),
      (2L, "clean text")).toDF("doc_id", "text")
    // "  bad   word " would otherwise inflate maxLen AND never match
    // the single-space grams tokens() produces — a silent no-op entry
    val messy = Seq("  bad   word ", "bad word", "\tbad  word")
    val got = TextAnalysis.blocklistHits(docs, "doc_id", "text", messy)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // three spellings collapse to ONE normalized phrase, counted once
    assert(got === Map("bad word" -> ((1L, 1L))))
    val kept = TextAnalysis.blocklistFilter(
      docs, "doc_id", "text", Seq(" bad   word ".replace(' ', ' ')))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L))
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistHits(docs, "doc_id", "text", Seq("  ", ""))
    }
  }

  test("mixturePlan: hand-computed integer shares, epochs, and the " +
    "zero-token domain") {
    import graft.ext.Splits
    // token counts passed explicitly: 100, 400, and a 0-token domain
    val docs = ((0 until 10).map(i => ("small", 10L)) ++
      (0 until 8).map(i => ("big", 50L)) :+ (("zero", 0L)))
      .toDF("domain", "ntok")
    val got = Splits.mixturePlan(docs, "domain", col("ntok"),
      budgetTokens = 3000L)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
    // sqrt floors: 10 and 20, tot 30 -> ppm 333333 / 666666 / 0
    // targets: (3000*w) div 1e6 = 999 / 1999 / 0
    // epochs_e4: 999*1e4 div 100 = 99900; 1999*1e4 div 400 = 49975
    assert(got("small") === ((10L, 100L, 333333L, 999L, Some(99900L))))
    assert(got("big") === ((8L, 400L, 666666L, 1999L, Some(49975L))))
    assert(got("zero") === ((1L, 0L, 0L, 0L, None)))
    // the plan never over-allocates the budget
    assert(got.values.map(_._4).sum <= 3000L)
  }

  test("t39 curation funnel: every stage fires once on a crafted " +
    "corpus, docs and tokens conserved") {
    // one document engineered per stage, written as a real documents
    // table so the PACK entry (incl. the doc_id<10 benchmark rule)
    // runs end-to-end
    val q = "the data of work and time to keep in line is good it works "
    val q4 = (q * 4).trim // 56 tokens, ratio ~321, stopword-rich
    val s20 = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val docs = (Seq(
      (0L, s20), // benchmark leak source: 20 tokens -> wordcount
      (10L, ("a " * 50).trim), // ratio 100 -> wordlen
      (11L, ("abcde " * 50).trim + (" #" * 10)), // 10 hashes -> symbols
      (12L, "- " + q4), // bullet prefix
      (13L, (1 to 50).map(i => s"cont${i}word").mkString(" ")), // no stopwords
      (14L, q4), // dedup winner -> kept
      (15L, q4), // dedup loser
      (16L, s20 + " " + (q * 3).trim)) ++ // 18/60 benchmark grams -> contamination
      (1L to 9L).map(i => (i, s"tiny bench doc $i"))) // short -> wordcount
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("crafted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel")
    try {
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("t39_curation_funnel")(
        spark, dir.toString)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got.keySet === Set("wordcount", "wordlen", "symbols",
        "bullet", "stopwords", "dedup", "contamination", "kept"))
      assert(got("wordcount")._1 === 10L) // ids 0..9
      assert(got("wordlen") === ((1L, 50L)))
      assert(got("symbols") === ((1L, 60L)))
      assert(got("bullet") === ((1L, 57L)))
      assert(got("stopwords") === ((1L, 50L)))
      assert(got("dedup") === ((1L, 56L)))
      assert(got("contamination") === ((1L, 62L)))
      assert(got("kept") === ((1L, 56L)))
      // conservation: every document is counted exactly once
      assert(got.values.map(_._1).sum === 17L)
    } finally {
      graft.util.Fs.deleteRecursively(dir)
      spark.catalog.clearCache()
    }
  }

  test("vocabCoverage: hand-computed coverage curve with frequency " +
    "ties broken by term") {
    // counts: a:3, b:2, d:2, c:1 -> total 8; tie (b, d) orders b first
    val docs = Seq((1L, "a a a b b"), (2L, "d d c")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, "text", sizes = Seq(1, 2, 10))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === ((3L, 3750L, 6250L))) // top-1 = a
    assert(got(2L) === ((5L, 6250L, 3750L))) // top-2 = a, b (not d)
    assert(got(10L) === ((8L, 10000L, 0L))) // vocab < V: full coverage
    intercept[IllegalArgumentException] {
      TextAnalysis.vocabCoverage(docs, "text", sizes = Seq.empty)
    }
    spark.catalog.clearCache()
  }

  test("dsirResample draws the Gumbel top-k of the weight frame, " +
    "layout-independent") {
    val rnd = new scala.util.Random(31)
    val words = Vector("the", "of", "and", "le", "la", "und", "der",
      "alpha", "beta", "gamma", "delta", "epsilon")
    val docs = (0L until 37L).map { i =>
      val lang = Seq("en", "fr", "de")(rnd.nextInt(3))
      val text = Seq.fill(3 + rnd.nextInt(9))(
        words(rnd.nextInt(words.size))).mkString(" ")
      (i, text, lang)
    }.toDF("doc_id", "text", "lang")

    // independent replay of the NOISE + SELECTION stage (the weights
    // themselves are t26's differential): test-side md5 Gumbel, then
    // a plain sort — vs the engine's BoundedTopK draw
    def gumbel(id: Long): Long = {
      val h = BigInt(
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15), 16).toLong
      val u = (h % 1000000000L + 1).toDouble / 1000000001L.toDouble
      math.floor(-1e6 * math.log(-math.log(u))).toLong
    }
    val w = TextAnalysis.dsirWeights(docs, "doc_id", "text",
      col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = w.toSeq
      .map { case (id, lw) => (id, lw, lw + gumbel(id)) }
      .sortBy { case (id, _, key) => (-key, id) }
      .take(math.max(1, w.size / 10))
      .zipWithIndex
      .map { case ((id, lw, key), i) => (i + 1L, id, lw, key) }
    val got = TextAnalysis.dsirResample(
      docs, "doc_id", "text", col("lang") === "en", keepNth = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === want)
    // layout-independent: identical draw under a different partitioning
    val again = TextAnalysis.dsirResample(
      docs.repartition(7), "doc_id", "text", col("lang") === "en",
      keepNth = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq === want)
    // keepNth=1 keeps the whole corpus, ranked
    val all = TextAnalysis.dsirResample(
      docs, "doc_id", "text", col("lang") === "en", keepNth = 1)
    assert(all.count() === 37L)
  }

  test("ccnetBuckets: per-language terciles by avg bigram NLL, " +
    "scoreless docs land in tail") {
    // two languages with hand-sized terciles (en: 7 -> 3/2/2,
    // fr: 4 -> 2/1/1) plus a 1-token doc with no bigram evidence
    val en = (0L until 7L).map(i =>
      (i, ("tok " * (i + 2).toInt).trim + s" u$i", "en"))
    val fr = (10L until 14L).map(i =>
      (i, ("mot " * (i - 8).toInt).trim + s" v$i", "fr"))
    val docs = (en ++ fr :+ ((20L, "solo", "en")))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.ccnetBuckets(docs, "doc_id", "text", "lang")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getString(4)))).toMap
    assert(out.size === 12)
    // the 1-token doc: no bigram, NULL score, tail
    assert(out(20L) === (("en", 0L, None, "tail")))
    // replay the tercile assignment from the engine's own scores:
    // sort (avg_nll, id) per lang, split 3/2/2 and 2/1/1
    def replay(lang: String, sizes: Seq[Int]): Map[Long, String] = {
      val scored = out.toSeq
        .filter { case (_, (l, nb, _, _)) => l == lang && nb >= 1 }
        .map { case (id, (_, _, s, _)) => (id, s.get) }
        .sortBy { case (id, s) => (s, id) }
      val names = Seq("head", "middle", "tail")
      sizes.zipWithIndex.flatMap { case (sz, b) =>
        val off = sizes.take(b).sum
        scored.slice(off, off + sz).map(_._1 -> names(b))
      }.toMap
    }
    val wantEn = replay("en", Seq(3, 2, 2))
    val wantFr = replay("fr", Seq(2, 1, 1))
    for ((id, (l, nb, _, bucket)) <- out if nb >= 1)
      assert(bucket === (if (l == "en") wantEn(id) else wantFr(id)),
        s"doc $id")
    // monotone: within a language, every head score <= every tail score
    val enScores = out.collect {
      case (_, ("en", nb, Some(s), b)) if nb >= 1 => (b, s)
    }
    assert(enScores.collect { case ("head", s) => s }.max <=
      enScores.collect { case ("tail", s) => s }.min)
  }

  test("leakageSafeSplit: clusters never straddle splits, singletons " +
    "coincide with the per-doc assignment, near-dups move together") {
    import graft.ext.Splits
    // two near-dup docs whose PER-DOC splits differ: ids chosen so
    // md5-bucket(7) is train and md5-bucket(9000008) is not (verified
    // below) — after clustering both must carry the CLUSTER's split
    val docs = Seq(
      (7L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9000008L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (42L, "completely unrelated text about something else entirely here"))
      .toDF("doc_id", "text")
    val out = Splits.leakageSafeSplit(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    // the pair clusters under the min id; both rows carry ONE split
    assert(out(7L)._1 === 7L && out(9000008L)._1 === 7L)
    assert(out(7L)._2 === out(9000008L)._2)
    // and that shared split is the REPRESENTATIVE's content-hash split
    val perDoc = docs.select(col("doc_id"),
      Splits.assignSplit(col("doc_id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(7L)._2 === perDoc(7L))
    // the fixture is only meaningful if the naive per-doc assignment
    // WOULD have leaked; assert that so the test can't rot silently
    assert(perDoc(7L) !== perDoc(9000008L),
      "fixture ids no longer land in different buckets — repick ids")
    // singleton: own cluster, per-doc split
    assert(out(42L) === ((42L, perDoc(42L))))
  }

  test("knScore: exact plain-Scala Kneser-Ney replay; short docs 0/0; " +
    "boilerplate context scores below fresh continuation") {
    val texts = Map(
      1L -> "the cat sat on the mat",
      2L -> "the cat ran to the mat",
      3L -> "a dog sat on a rug",
      4L -> "the cat sat on the mat extra words here now",
      5L -> "singleton")
    val docs = texts.toSeq.map { case (id, t) => (id, t) }.toDF("doc_id", "text")
    val out = TextAnalysis.knScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    // independent replay of the published formula over raw token lists
    val grams = texts.toSeq.flatMap { case (id, t) =>
      val toks = t.trim.split(" +").toSeq
      if (toks.length < 2) Seq.empty
      else toks.zip(toks.tail).map { case (p, c) => (id, p, c) }
    }
    val c2 = grams.groupBy(g => (g._2, g._3)).view.mapValues(_.size).toMap
    val c1 = grams.groupBy(_._2).view.mapValues(_.size).toMap
    val nf = grams.map(g => (g._2, g._3)).distinct
      .groupBy(_._1).view.mapValues(_.size).toMap
    val np = grams.map(g => (g._2, g._3)).distinct
      .groupBy(_._2).view.mapValues(_.size).toMap
    val nt = grams.map(g => (g._2, g._3)).distinct.size.toDouble
    def lpE6(p: String, c: String): Long = {
      val prob = math.max(c2((p, c)) - 0.75, 0.0) / c1(p) +
        ((0.75 * nf(p)) / c1(p)) * (np(c) / nt)
      math.floor(1e6 * math.log(prob)).toLong
    }
    val want = texts.keys.map { id =>
      val docGrams = grams.filter(_._1 == id)
      id -> ((docGrams.size.toLong,
        docGrams.map(g => lpE6(g._2, g._3)).sum))
    }.toMap
    assert(out === want)
    assert(out(5L) === ((0L, 0L)))
    // KN property the fixture encodes: P sums over SEEN continuations
    // of a context stay <= 1 (proper distribution, discount left for
    // unseen mass)
    c1.keys.foreach { p =>
      val mass = c2.collect { case ((`p`, c), _) =>
        math.max(c2((p, c)) - 0.75, 0.0) / c1(p) +
          ((0.75 * nf(p)) / c1(p)) * (np(c) / nt)
      }.sum
      assert(mass <= 1.0 + 1e-12, s"context '$p' mass $mass")
    }
  }

  test("mooreLewis: a general-corpus doc phrased like the in-domain " +
    "slice is selected; one phrased like the general corpus is not") {
    import spark.implicits._
    // in-domain speaks "alpha beta gamma"; the general corpus speaks
    // "delta epsilon zeta". Two probe docs sit in the GENERAL slice:
    // doc 100 parrots the domain phrasing, doc 101 the general one.
    val inDocs = (1L to 6L).map(i =>
      (i, "alpha beta gamma alpha beta gamma alpha beta", true))
    val genDocs = (10L to 15L).map(i =>
      (i, "delta epsilon zeta delta epsilon zeta delta", false))
    val probes = Seq(
      (100L, "alpha beta gamma alpha beta", false),
      (101L, "delta epsilon zeta delta epsilon", false))
    val df = (inDocs ++ genDocs ++ probes).toDF("doc_id", "text", "is_in")
    val out = graft.ext.TextAnalysis
      .mooreLewis(df, "doc_id", "text", "is_in")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(100L).getAs[Long]("selected") == 1L,
      s"domain-phrased probe: ${out(100L)}")
    assert(out(101L).getAs[Long]("selected") == 0L,
      s"general-phrased probe: ${out(101L)}")
    // difference = in − gen sums exactly
    out.values.foreach { r =>
      assert(r.getAs[Long]("ml_e6_sum") ==
        r.getAs[Long]("lm_in_e6_sum") - r.getAs[Long]("lm_gen_e6_sum"))
    }
    // a short doc scores 0 over 0 bigrams and is not selected
    val short = graft.ext.TextAnalysis.mooreLewis(
      (Seq((1L, "alpha beta", true), (2L, "solo", false),
        (3L, "delta epsilon", false))).toDF("doc_id", "text", "is_in"),
      "doc_id", "text", "is_in")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(short(2L).getAs[Long]("n_bigrams") == 0L)
    assert(short(2L).getAs[Long]("selected") == 0L)
  }
}
