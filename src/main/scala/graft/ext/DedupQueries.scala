package graft.ext

import org.apache.spark.sql.functions._
import graft.query.{Q, Tables}

/** Query-pack surface for Dedup over the `documents` table. */
object DedupQueries {

  /** The d22/d23/d25 PageRank family all rank over the SAME
    * shingle-overlap graph; the production shape is
    * [[Dedup.edgeIndexWrite]] at ingest + a parquet scan per ranking
    * job, so the pack does exactly that: the first query to need the
    * edges builds and persists the artifact (per sf dir, per JVM),
    * the rest start from [[Dedup.edgeIndexRead]] — one shingle
    * inverted-index shuffle per pack run instead of three.
    * `maxPostings = Int.MaxValue` because the DuckDB oracles replay
    * the uncapped join (the d5 contract); production callers cap. */
  /** Session-lifetime scratch dirs (d39's per-invocation index
    * lifecycle): all registered under ONE shutdown hook — a hook (and
    * an undeleted dir) per bench iteration would otherwise accumulate
    * for the JVM's life. */
  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val scratchHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => {
      scratchDirs.forEach(p => graft.util.Fs.deleteRecursively(p))
    }))
  private[ext] def scratchDir(prefix: String): java.nio.file.Path = {
    scratchHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p
  }

  private val edgeArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sharedEdges(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val art = edgeArtifacts.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-edge-index")
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => graft.util.Fs.deleteRecursively(tmp)))
      Dedup.edgeIndexWrite(
        Dedup.edgeIndexBuild(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          minShared = 2, w = 3, maxPostings = Int.MaxValue),
        tmp.toString)
      tmp.toString
    })
    Dedup.edgeIndexRead(s, art).edges
  }

  val all: Seq[Q] = Seq(
    // exact dedup: content-digest groupBy; keep lowest doc_id per digest.
    Q(
      "d1_exact_dedup",
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM documents GROUP BY md5(text)""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
    },

    // dedup summary: corpus-level duplicate stats (SQL-expressible).
    Q(
      "d2_dedup_summary",
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_unique,
        |  count(*) - count(DISTINCT md5(text)) AS n_dups
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups"))
    },

    // duplicated-span profile: per-document count of 8-gram positions
    // shared with other documents (the n-gram view of exact substring
    // dedup). Gram digests are md5-of-text so the oracle replays the
    // identical grouping; the oracle's positions table emulates the
    // explode.
    Q(
      "d12_dup_span_profile",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
        |), pos AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(t)) AS INT) FROM tok))) AS i
        |), grams AS (
        |  SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS g
        |  FROM tok JOIN pos ON i <= len(t) - 7
        |), shared AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY g)
        |  WHERE nd >= 2
        |)
        |SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN g IN (SELECT g FROM shared) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup_spans
        |FROM grams GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.dupSpanProfile(
        Tables.load(s, dir, "documents"), "doc_id", "text", n = 8)
    },

    // span-level dedup transform: cut every token covered by a
    // cross-document duplicate 8-gram, hash the cleaned text. The
    // oracle replays positions/coverage with the same window and
    // string_agg-in-position-order.
    Q(
      "d13_dedup_spans",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
        |), pos AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(t)) AS INT) FROM tok))) AS i
        |), tp AS (
        |  SELECT doc_id, i - 1 AS p, t[i] AS tk FROM tok JOIN pos ON i <= len(t)
        |), grams AS (
        |  SELECT doc_id, i - 1 AS q, md5(array_to_string(t[i:i+7], ' ')) AS g
        |  FROM tok JOIN pos ON i <= len(t) - 7
        |), shared AS (
        |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
        |    FROM grams GROUP BY g) WHERE nd >= 2
        |), starts AS (
        |  SELECT doc_id, q FROM grams WHERE g IN (SELECT g FROM shared)
        |), flags AS (
        |  SELECT tp.doc_id, tp.p, tp.tk,
        |    CASE WHEN s.q IS NOT NULL THEN 1 ELSE 0 END AS st
        |  FROM tp LEFT JOIN starts s ON tp.doc_id = s.doc_id AND tp.p = s.q
        |), cov AS (
        |  SELECT doc_id, p, tk,
        |    max(st) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS c
        |  FROM flags
        |)
        |SELECT doc_id,
        |  md5(coalesce(string_agg(tk, ' ' ORDER BY p) FILTER (WHERE c = 0), ''))
        |    AS clean_hash,
        |  CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(c) AS BIGINT) AS n_removed
        |FROM cov GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.dedupSpans(
        Tables.load(s, dir, "documents"), "doc_id", "text", n = 8)
    },

    // MinHash+LSH near-dup pairs. Fully hash-oracled: every hash in the
    // pipeline is portable ([[Dedup.pmd5]] + the md5-derived affine
    // family), so the oracle replays signature generation, banding,
    // bucket capping, candidate self-join AND the exact-Jaccard verify
    // in DuckDB with the identical inlined constants (SQL generated by
    // [[d3OracleSql]]). Recall behavior additionally pinned by
    // DedupSpec's planted dups.
    Q("d3_minhash_neardup", d3OracleSql) { (s, dir) =>
      Dedup.minhashPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 10000).cast("long").as("jaccard_e4"))
    },

    // SimHash near-dup pairs within Hamming distance 3 — hash-oracled
    // the same way: 60-bit per-token pmd5 votes, signature assembly,
    // 4×15-bit pigeonhole chunk join and popcount verify all replay in
    // DuckDB ([[d4OracleSql]]).
    Q("d4_simhash_neardup", d4OracleSql) { (s, dir) =>
      Dedup.simhashPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", maxDist = 3)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
    },

    // exact n-gram Jaccard pairs via inverted-index join (J >= 0.8).
    // Oracle-able because the result is EXACT set math, not a sketch:
    // DuckDB brute-forces all |docs|² shingle-set intersections (fine at
    // oracle scale; the Spark side never materializes pairs without a
    // shared shingle). Hash-vs-string shingle identity coincides up to
    // pmd5 (60-bit md5) collisions (~1e-9 at this corpus size).
    Q(
      "d5_ngram_jaccard_pairs",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END) AS sh
        |  FROM t
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS shared,
        |    len(a.sh) AS na, len(b.sh) AS nb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b,
        |  CAST(round(round(CAST(shared AS DOUBLE)/CAST(na + nb - shared AS DOUBLE), 4)*10000) AS BIGINT) AS jaccard_e4
        |FROM p
        |WHERE shared > 0
        |  AND CAST(shared AS DOUBLE)/CAST(na + nb - shared AS DOUBLE) >= 0.8""".stripMargin) {
      (s, dir) =>
        // uncapped: the oracle has no postings cap, and the EXACTNESS of
        // this query is its contract (the capped variant is the
        // documented skew-guard scale path, exercised in DedupSpec)
        Dedup.ngramJaccardPairs(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8, maxPostings = Int.MaxValue)
          .select(
            col("id_a"), col("id_b"),
            round(col("jaccard") * 10000).cast("long").as("jaccard_e4"))
    },

    // exact dedup with survivor policy: keep the best-quality copy
    // (training-pipeline keep-best vs d1's keep-first). The corpus has no
    // exact dups, so the query plants them — a shifted-id union — the
    // same on both engines.
    Q(
      "d7_dedup_keep_best",
      s"""WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    ${TextQueries.qualityFColsSql},
        |    md5(text) AS content_hash
        |  FROM d
        |), sc AS (
        |  SELECT doc_id, content_hash,
        |    ${TextQueries.qualityBlendE4Sql} AS score
        |  FROM f
        |), r AS (
        |  SELECT doc_id, content_hash, score,
        |    row_number() OVER (PARTITION BY content_hash
        |      ORDER BY score DESC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY content_hash) AS n_dups
        |  FROM sc
        |)
        |SELECT doc_id, content_hash, score, CAST(n_dups AS BIGINT) AS n_dups
        |FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
      val doubled = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.dedupKeepBest(
        doubled, "doc_id", "text",
        floor(TextAnalysis.qualityScore(col("text")) * 10000).cast("long"))
    },

    // near-dup clustering: connected components over the exact-Jaccard
    // pair graph (pairs -> dedup groups, representative = min id). The
    // oracle replays it with a recursive CTE (transitive reachability,
    // min reachable id == the min-label fixpoint).
    Q(
      "d8_neardup_clusters",
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END) AS sh
        |  FROM t
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS shared,
        |    len(a.sh) AS na, len(b.sh) AS nb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |), pr AS (
        |  SELECT id_a, id_b FROM p
        |  WHERE shared > 0
        |    AND CAST(shared AS DOUBLE)/CAST(na + nb - shared AS DOUBLE) >= 0.8
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pr
        |  UNION ALL SELECT id_b, id_a FROM pr
        |), walk(a, lbl) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.a
        |)
        |SELECT a AS id, min(lbl) AS cluster_id FROM walk GROUP BY a""".stripMargin) {
      (s, dir) =>
        Dedup.nearDupClusters(
          Dedup.ngramJaccardPairs(
            Tables.load(s, dir, "documents"), "doc_id", "text",
            threshold = 0.8, maxPostings = Int.MaxValue))
    },

    // the complete corpus dedup: near-dup pairs -> clusters -> best
    // survivor per cluster (quality argmax, id tiebreak), singletons
    // kept. One row per survivor; the oracle composes the d8 recursive
    // CTE with the t4 quality expression and a survivor window.
    Q(
      "d9_dedup_corpus",
      s"""WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END) AS sh
        |  FROM t
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS shared,
        |    len(a.sh) AS na, len(b.sh) AS nb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |), pr AS (
        |  SELECT id_a, id_b FROM p
        |  WHERE shared > 0
        |    AND CAST(shared AS DOUBLE)/CAST(na + nb - shared AS DOUBLE) >= 0.8
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pr
        |  UNION ALL SELECT id_b, id_a FROM pr
        |), walk(a, lbl) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.a
        |), cl AS (
        |  SELECT a AS id, min(lbl) AS cluster_id FROM walk GROUP BY a
        |), f AS (
        |  SELECT doc_id,
        |    ${TextQueries.qualityFColsSql}
        |  FROM documents
        |), q AS (
        |  SELECT doc_id,
        |    ${TextQueries.qualityBlendE4Sql} AS score
        |  FROM f
        |), j AS (
        |  SELECT q.doc_id AS id, coalesce(cl.cluster_id, q.doc_id) AS cluster_id,
        |    q.score
        |  FROM q LEFT JOIN cl ON cl.id = q.doc_id
        |), r AS (
        |  SELECT id, cluster_id, score,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY score DESC, id ASC) AS rn,
        |    count(*) OVER (PARTITION BY cluster_id) AS n_members
        |  FROM j
        |)
        |SELECT id AS keep_id, cluster_id, score,
        |  CAST(n_members AS BIGINT) AS n_members
        |FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
      Dedup.dedupCorpusByNgram(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        floor(TextAnalysis.qualityScore(col("text")) * 10000).cast("long"),
        threshold = 0.8, maxPostings = Int.MaxValue)
    },

    // benchmark decontamination: per-doc fraction of shingles appearing
    // in an eval set (here: docs 0..9 stand in as the benchmark — the
    // same on both engines). Benchmark docs self-report 10000.
    Q(
      "d10_contamination",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END) AS sh
        |  FROM t
        |), bench AS (
        |  SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 10
        |), d AS (
        |  SELECT doc_id, unnest(sh) AS g FROM s
        |), hits AS (
        |  SELECT doc_id, count(*) AS bench_hits
        |  FROM d JOIN bench USING (g) GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, len(sh) AS n FROM s
        |)
        |SELECT t.doc_id AS id, CAST(t.n AS BIGINT) AS n_shingles,
        |  CAST(coalesce(h.bench_hits, 0) AS BIGINT) AS bench_hits,
        |  CAST(floor(CAST(coalesce(h.bench_hits, 0) AS DOUBLE) /
        |    CAST(t.n AS DOUBLE) * 10000) AS BIGINT) AS contamination_e4
        |FROM tot t LEFT JOIN hits h USING (doc_id)""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.contamination(
        docs, "doc_id", "text",
        docs.where(col("doc_id") < 10), "text")
    },

    // SEMANTIC decontamination: d10's companion in embedding space —
    // corpus vectors whose best cosine against any benchmark vector
    // (vec_id < 50 stands in for the eval set) reaches 0.4, with the
    // deterministic best match (highest cosine, lowest bench id). The
    // benchmark broadcasts, the corpus scans once; catches paraphrased
    // or translated eval leakage token overlap misses. Oracle: the s10
    // list-fold cosine replay + the same argmax window.
    Q(
      "d20_semantic_decontam",
      """WITH b AS (
        |  SELECT vec_id AS b_id, embedding AS bv FROM embeddings
        |  WHERE vec_id < 50
        |), c AS (
        |  SELECT vec_id, embedding AS cv FROM embeddings
        |  WHERE vec_id >= 50
        |), sc AS (
        |  SELECT c.vec_id, b.b_id,
        |    round(
        |      list_sum(list_transform(range(1, len(cv) + 1),
        |        i -> CAST(cv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(cv,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(bv,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        |      6) AS cos6
        |  FROM c, b
        |), r AS (
        |  SELECT vec_id, b_id, cos6, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY cos6 DESC, b_id ASC) AS rn
        |  FROM sc WHERE NOT isnan(cos6)
        |)
        |SELECT vec_id AS id, CAST(b_id AS BIGINT) AS bench_id,
        |  CAST(round(cos6 * 1000000) AS BIGINT) AS cos_e6
        |FROM r WHERE rn = 1 AND cos6 >= 0.4""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.semanticContamination(
        e.where(col("vec_id") >= 50), e.where(col("vec_id") < 50),
        "vec_id", "embedding", threshold = 0.4)
        .select(col("id"), col("bench_id"),
          round(col("cos6") * 1000000).cast("long").as("cos_e6"))
    },

    // Bloom-prefiltered exact decontamination screen: the bloom is
    // correctness-transparent (no false negatives; false positives die
    // at the exact verify), so the oracle is the PLAIN shingle
    // semi-join (the d10 substrate) the operator computes at scan
    // speed. Eval set = the first 10 docs, like d10.
    Q(
      "d21_bloom_decontam",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END) AS sh
        |  FROM t
        |), ev AS (
        |  SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 10
        |), d AS (
        |  SELECT doc_id, unnest(sh) AS g FROM s
        |)
        |SELECT doc_id AS id, count(*) AS hit_shingles
        |FROM d JOIN ev USING (g) GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.bloomDecontam(
        docs, "doc_id", "text",
        docs.where(col("doc_id") < 10), "text")
    },

    // embedding-space corpus dedup: the d9 composition with sign-LSH
    // cosine candidates; survivor = highest-norm vector. Hash-oracled:
    // the d6 sign-LSH replay ([[cosineLshCtes]]) feeds the d8 recursive-
    // CTE connected components and a survivor window — the complete
    // pipeline replays in DuckDB. Bucket geometry auto-derives from
    // corpus size (planesPerBand = ceil(log2(n/64))) and oversized
    // buckets are capped — the scale guards DedupSpec pins.
    Q("d11_dedup_corpus_cosine", d11OracleSql) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Dedup.dedupCorpusByCosine(
        e, "vec_id", "embedding",
        round(Similarity.norm(col("embedding")) * 1e6).cast("long"),
        threshold = 0.4)
    },

    // embedding-cosine near-dup pairs, banded-LSH-bucketed. Threshold
    // 0.4 because the synthetic corpus's most-similar pair is ~0.51 —
    // the operator's contract (pairs ≥ t found via bucket collision) is
    // the same at any t. Geometry auto-derives from corpus size and
    // buckets are size-capped (the Θ(n²) guard), so the candidate count
    // stays ~n·targetBucket at any scale. Hash-oracled: the fixed-seed
    // Gaussian hyperplanes inline as double literals and the VectorDot
    // fold replays as a left-associated chain ([[cosineLshCtes]]).
    Q("d6_embedding_neardup", d6OracleSql) { (s, dir) =>
      Similarity.cosineNearDupPairs(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4)
        .select(col("id_a"), col("id_b"),
          floor(col("cos_sim") * 1e6).cast("long").as("cos_e6"))
    },

    // incremental dedup: an arriving batch (doc_id >= 250) against the
    // accumulated corpus (doc_id < 250) — anti-join on the content
    // digest, then keep-first within the batch. The production shape
    // for a continuous crawl: the corpus never rescans, only its digest
    // column joins.
    Q(
      "d14_incremental_dedup",
      """WITH c AS (
        |  SELECT DISTINCT md5(text) AS content_hash FROM documents
        |  WHERE doc_id < 250
        |), b AS (
        |  SELECT doc_id, md5(text) AS content_hash FROM documents
        |  WHERE doc_id >= 250
        |)
        |SELECT min(doc_id) AS keep_id, content_hash,
        |  count(*) AS n_batch_dups
        |FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.content_hash = b.content_hash)
        |GROUP BY content_hash""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.dedupAgainstCorpus(
        docs.where(col("doc_id") >= 250), "doc_id", "text",
        docs.where(col("doc_id") < 250), "text")
    },

    // incremental NEAR-dup: the same arriving batch (doc_id >= 250)
    // probed against the accumulated corpus (doc_id < 250) by
    // MinHash-LSH band collision — d14 generalized from exact digests
    // to Jaccard >= 0.5 near-duplicates. Candidates are batch-vs-index
    // collisions only (the corpus never self-joins; its signatures are
    // the write-once index in production — the persisted twin is
    // minhashIndexWrite/minhashProbeIndex, spec-pinned bit-equal),
    // bucket cap on the index side, exact-Jaccard verify. Full replay
    // oracle on the shared minhash prefix.
    Q("d19_incremental_minhash", d19OracleSql) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.minhashPairsAgainstCorpus(
        docs.where(col("doc_id") >= 250), docs.where(col("doc_id") < 250),
        "doc_id", "text", threshold = 0.5)
        .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
          round(col("jaccard") * 10000).cast("long").as("jaccard_e4"))
    },

    // INDEX MAINTENANCE on the text side: the d19 persisted index
    // with the full delete lifecycle driven for real — write the
    // corpus index, tombstone a pmd5 slice of it (LOGICAL delete: an
    // id sidecar, no index file touched — how immutable-file indexes
    // take deletions at 100 TB), COMPACT (physical rewrite minus
    // tombstones, bucket_n recounted from live membership, rename
    // swap per table), then probe the arriving batch. The oracle
    // replays the probe against the surviving corpus — after
    // compaction the index is bit-identical to a fresh build on the
    // live docs (spec-pinned), so the whole lifecycle is
    // hash-certified, not just "tombstones absent".
    Q("d39_index_tombstone_probe", d39OracleSql) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val corpus = docs.where(col("doc_id") < 250)
      // fresh dir per invocation — the lifecycle IS the operator under
      // test, so it must run (and be timed) every call; cleanup goes
      // through ONE shared hook (scratchDir), not a hook per call
      val tmp = scratchDir("graft-mhidx-tomb")
      Dedup.minhashIndexWrite(corpus, "doc_id", "text", tmp.toString)
      Dedup.MinhashFamily.delete(
        tmp.toString,
        corpus.where(Dedup.pmd5(col("doc_id")) % 8 === 0)
          .select(col("doc_id")),
        "doc_id")
      Dedup.MinhashFamily.compact(s, tmp.toString)
      Dedup.minhashProbeIndex(
        docs.where(col("doc_id") >= 250), "doc_id", "text", tmp.toString,
        threshold = 0.5)
        .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
          round(col("jaccard") * 10000).cast("long").as("jaccard_e4"))
    },

    // winnowing near-dup pairs: substring-level detector on the t19
    // fingerprints — a shared run of w+k-1=6 tokens forces a shared
    // fingerprint (MOSS guarantee), at ~2/(w+1) the postings of d5's
    // full shingle index. Exact (no seeds) -> fully oracled, same
    // maxPostings skew cap as d5.
    Q(
      "d15_winnow_pairs",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
        |), pos AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(t)) AS INT) FROM toks))) AS i
        |), grams AS (
        |  SELECT doc_id, i,
        |    ('0x'||substr(md5(t[i]||' '||t[i+1]||' '||t[i+2]),1,15))::BIGINT AS h
        |  FROM toks JOIN pos ON i <= len(t) - 2
        |  WHERE len(t) >= 3
        |), wins AS (
        |  SELECT doc_id, i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    count(*) OVER (PARTITION BY doc_id) AS ng
        |  FROM grams
        |), fps AS (
        |  SELECT DISTINCT doc_id, fp FROM wins WHERE i <= greatest(1, ng - 3)
        |), rare AS (
        |  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 1000
        |), c AS (
        |  SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |FROM c a JOIN c b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
      Dedup.winnowPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        minShared = 2, k = 3, w = 4, maxPostings = 1000)
    },

    // winnow-based corpus dedup: the d9/d11 composition with the
    // substring-level candidate generator — completes the generator
    // family (ngram set overlap / embedding cosine / winnow substring)
    // over the identical clustering + best-survivor tail. Oracle =
    // d15's fingerprint CTEs + d9's recursive reachability + survivor
    // selection.
    Q(
      "d16_dedup_corpus_winnow",
      s"""WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
        |), pos AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(t)) AS INT) FROM toks))) AS i
        |), grams AS (
        |  SELECT doc_id, i,
        |    ('0x'||substr(md5(t[i]||' '||t[i+1]||' '||t[i+2]),1,15))::BIGINT AS h
        |  FROM toks JOIN pos ON i <= len(t) - 2
        |  WHERE len(t) >= 3
        |), wins AS (
        |  SELECT doc_id, i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    count(*) OVER (PARTITION BY doc_id) AS ng
        |  FROM grams
        |), fps AS (
        |  SELECT DISTINCT doc_id, fp FROM wins WHERE i <= greatest(1, ng - 3)
        |), rare AS (
        |  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 1000
        |), c AS (
        |  SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)
        |), pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM c a JOIN c b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pr
        |  UNION ALL SELECT id_b, id_a FROM pr
        |), walk(a, lbl) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.a
        |), cl AS (
        |  SELECT a AS id, min(lbl) AS cluster_id FROM walk GROUP BY a
        |), f AS (
        |  SELECT doc_id,
        |    ${TextQueries.qualityFColsSql}
        |  FROM documents
        |), q AS (
        |  SELECT doc_id,
        |    ${TextQueries.qualityBlendE4Sql} AS score
        |  FROM f
        |), j AS (
        |  SELECT q.doc_id AS id, coalesce(cl.cluster_id, q.doc_id) AS cluster_id,
        |    q.score
        |  FROM q LEFT JOIN cl ON cl.id = q.doc_id
        |), r AS (
        |  SELECT id, cluster_id, score,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY score DESC, id ASC) AS rn,
        |    count(*) OVER (PARTITION BY cluster_id) AS n_members
        |  FROM j
        |)
        |SELECT id AS keep_id, cluster_id, score,
        |  CAST(n_members AS BIGINT) AS n_members
        |FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
      Dedup.dedupCorpusByWinnow(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        floor(TextAnalysis.qualityScore(col("text")) * 10000).cast("long"),
        minShared = 2, k = 3, w = 4, maxPostings = 1000)
    },

    // SemDeDup: k-means-cell semantic dedup over the embedding corpus
    // (the clustering-cell alternative to d11's sign-LSH banding).
    // Hash-oracled end to end: the KmeansOracle Lloyd replay (seeded
    // centroids inlined, e6-integer cell means) trains the centroids,
    // the routedCtes replay derives the TWO-LEVEL assignment (meta-
    // Lloyd groups + per-group argmax — the n·√k scale path), then the
    // cell-capped in-cell pair join (cap surfaced as cell_capped, not
    // a silent drop), the e6-rounded cosine threshold, d8's
    // recursive-CTE connected components, and the d11 survivor window.
    Q("d18_semdedup", d18OracleSql) { (s, dir) =>
      // threshold 0.4 like d11: the synthetic corpus's most-similar
      // pair is ~0.51, so a 0.9 threshold would test nothing
      val emb = Tables.load(s, dir, "embeddings")
      Dedup.semDedup(
        emb, "vec_id", "embedding",
        round(graft.ext.Similarity.norm(col("embedding")) * 1e6)
          .cast("long"),
        threshold = 0.4, k = 16, dim = Some(64))
    },

    // edit-distance (fuzzy) near-dup pairs over 64-char normalized
    // heads. Uncapped postings here — the q-gram COUNT filter is
    // LOSSLESS for ≥ q·(maxDist+1)-char heads, so the oracle can be
    // the brute-force length-banded levenshtein join; the capped
    // variant is the documented skew-guard scale path (DedupSpec).
    // q=8 over this low-entropy corpus: the count threshold (shared ≥
    // maxGlen − q·d) is what keeps the verify set ≈ true pairs.
    Q(
      "d17_fuzzy_pairs",
      """WITH n AS (
        |  SELECT doc_id,
        |    substr(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
        |      1, 64) AS h
        |  FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.h, b.h) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.doc_id < b.doc_id
        |WHERE abs(length(a.h) - length(b.h)) <= 3
        |  AND levenshtein(a.h, b.h) <= 3""".stripMargin) { (s, dir) =>
      Dedup.fuzzyPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        maxDist = 3, headLen = 64, q = 8, maxPostings = Int.MaxValue)
    },

    // duplication-hub scoring: integer PageRank over the shingle-
    // overlap graph (edges = pairs sharing ≥2 distinct trigrams — the
    // absolute-overlap criterion, 1,109 edges at sf0.01 vs d5's 25
    // Jaccard pairs). The pairwise dedup family scores pairs; this
    // ranks POSITIONS in the whole dup graph, surfacing the template/
    // boilerplate hubs whose content radiates through the corpus.
    // Hash-oracled end to end: the d5 trigram CTE feeds the edge
    // builder and five unrolled BIGINT supersteps — truncating integer
    // division on the positive domain is identical between Spark's
    // `div` and DuckDB's `//`, so the fixpoint prefix is engine-exact.
    Q("d22_pagerank_dup_hubs", d22OracleSql) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val pairs = sharedEdges(s, dir)
      Graph.pageRankInt(docs.select(col("doc_id")), pairs, iterations = 5)
        .select(col("id").as("doc_id"), col("rank").as("rank_e9"))
        .orderBy(col("rank_e9").desc, col("doc_id").asc)
        .limit(20)
    },

    // personalized PageRank seed expansion: teleport mass pinned to
    // the d10/d21 eval set (doc_id < 10), ranking NON-seed docs by
    // multi-hop content proximity to the benchmark through the
    // shingle-overlap graph — the transitive contamination screen
    // (paraphrase chains a one-hop overlap join cannot see). Same
    // BIGINT superstep contract as d22 with base/init gated to seeds;
    // unreached docs finish at exactly 0 and are filtered.
    Q("d23_ppr_seed_expand", pagerankOracleSql(
      seedWhere = Some("doc_id < 10"))) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val pairs = sharedEdges(s, dir)
      Graph.personalizedPageRankInt(
        docs.select(col("doc_id")), pairs,
        docs.where(col("doc_id") < 10).select(col("doc_id")),
        iterations = 5)
        .where(col("rank") > 0 && col("id") >= 10)
        .select(col("id").as("doc_id"), col("rank").as("rank_e9"))
        .orderBy(col("rank_e9").desc, col("doc_id").asc)
        .limit(20)
    },

    // overlap-WEIGHTED dup-hub PageRank: mass splits by shared-shingle
    // count instead of degree, so hub scores track overlap DEPTH — a
    // doc tied to neighbors by 40-gram template runs outranks one with
    // the same degree of borderline 2-gram edges. Same BIGINT
    // superstep contract; the oracle's contribution term gains the
    // (·w) // Σw factor.
    Q("d25_weighted_pagerank", pagerankOracleSql(
      None, weighted = true)) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val pairs = sharedEdges(s, dir)
      Graph.pageRankWeightedInt(
        docs.select(col("doc_id")), pairs, "shared", iterations = 5)
        .select(col("id").as("doc_id"), col("rank").as("rank_e9"))
        .orderBy(col("rank_e9").desc, col("doc_id").asc)
        .limit(20)
    },

    // incremental-novelty profile: per doc, the fraction of its
    // distinct trigrams FIRST SEEN in that doc (ascending id =
    // ingestion order). Zero = exact dup of earlier content; low =
    // boilerplate recombination; the pair-join-free removal-priority
    // signal. The query plants one exact dup (doc 0 re-ingested as
    // 1000000) to pin the zero endpoint on real data.
    Q(
      "d24_novelty_profile",
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id = 0
        |), t AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM d
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END) AS g
        |  FROM t
        |), e AS (
        |  SELECT doc_id, unnest(g) AS g FROM sh
        |), f AS (
        |  SELECT g, min(doc_id) AS first_id FROM e GROUP BY g
        |)
        |SELECT e.doc_id AS id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN first_id = e.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS novel,
        |  CAST((sum(CASE WHEN first_id = e.doc_id THEN 1 ELSE 0 END)
        |    * 10000) // count(*) AS BIGINT) AS novelty_e4
        |FROM e JOIN f USING (g) GROUP BY e.doc_id""".stripMargin) {
      (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val planted = docs.union(
          docs.where(col("doc_id") === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        Dedup.noveltyProfile(planted, "doc_id", "text")
    },

    // exact repeated-substring spans at suffix grain (Lee et al. 2022
    // ExactSubstr): maximal token runs of length >= 20 occurring
    // token-exactly >= 2 times in the corpus (with multiplicity —
    // within-doc repeats count), with precise 0-based boundaries. The
    // oracle replays the L-gram digests, the count-with-multiplicity
    // dup test, and the lag/sum interval union window-for-window.
    Q(
      "d26_exact_substr_spans",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
        |), pos AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(t)) AS INT) FROM tok))) AS i
        |), grams AS (
        |  SELECT doc_id, i - 1 AS q, md5(array_to_string(t[i:i+19], ' ')) AS g
        |  FROM tok JOIN pos ON i <= len(t) - 19
        |), dup AS (
        |  SELECT g FROM (SELECT g, count(*) AS n FROM grams GROUP BY g)
        |  WHERE n >= 2
        |), hits AS (
        |  SELECT doc_id, q FROM grams WHERE g IN (SELECT g FROM dup)
        |), brk AS (
        |  SELECT doc_id, q,
        |    CASE WHEN q - lag(q) OVER (PARTITION BY doc_id ORDER BY q) > 20
        |           OR lag(q) OVER (PARTITION BY doc_id ORDER BY q) IS NULL
        |         THEN 1 ELSE 0 END AS b
        |  FROM hits
        |), grp AS (
        |  SELECT doc_id, q, sum(b) OVER (PARTITION BY doc_id ORDER BY q
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM brk
        |)
        |SELECT doc_id, CAST(min(q) AS BIGINT) AS span_start,
        |  CAST(max(q) - min(q) + 20 AS BIGINT) AS span_len
        |FROM grp GROUP BY doc_id, grp""".stripMargin) { (s, dir) =>
      Dedup.exactSubstrSpans(
        Tables.load(s, dir, "documents"), "doc_id", "text", minLen = 20)
    },

    // the companion transform: cut every token inside a d26 span and
    // reassemble — d13's cut/reassembly idiom with the EXACT >=L
    // removal set (L-gram coverage window, 19 PRECEDING).
    Q(
      "d27_exact_substr_dedup",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
        |), pos AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(t)) AS INT) FROM tok))) AS i
        |), tp AS (
        |  SELECT doc_id, i - 1 AS p, t[i] AS tk FROM tok JOIN pos ON i <= len(t)
        |), grams AS (
        |  SELECT doc_id, i - 1 AS q, md5(array_to_string(t[i:i+19], ' ')) AS g
        |  FROM tok JOIN pos ON i <= len(t) - 19
        |), dup AS (
        |  SELECT g FROM (SELECT g, count(*) AS n FROM grams GROUP BY g)
        |  WHERE n >= 2
        |), starts AS (
        |  SELECT doc_id, q FROM grams WHERE g IN (SELECT g FROM dup)
        |), flags AS (
        |  SELECT tp.doc_id, tp.p, tp.tk,
        |    CASE WHEN s.q IS NOT NULL THEN 1 ELSE 0 END AS st
        |  FROM tp LEFT JOIN starts s ON tp.doc_id = s.doc_id AND tp.p = s.q
        |), cov AS (
        |  SELECT doc_id, p, tk,
        |    max(st) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS c
        |  FROM flags
        |)
        |SELECT doc_id,
        |  md5(coalesce(string_agg(tk, ' ' ORDER BY p) FILTER (WHERE c = 0), ''))
        |    AS clean_hash,
        |  CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(c) AS BIGINT) AS n_removed
        |FROM cov GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.exactSubstrDedup(
        Tables.load(s, dir, "documents"), "doc_id", "text", minLen = 20)
    },

    // keep-ONE-copy exact substring dedup (the Lee et al. removal
    // policy itself): a duplicated-L-gram position is cut unless it is
    // the gram's canonical (corpus-minimum (doc_id, q)) occurrence —
    // the first copy survives intact, later copies cut at exact
    // boundaries. Oracle replays canonicality with a (doc_id, q)
    // row_number window over the gram groups.
    Q(
      "d28_exact_substr_keepfirst",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
        |), pos AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(t)) AS INT) FROM tok))) AS i
        |), tp AS (
        |  SELECT doc_id, i - 1 AS p, t[i] AS tk FROM tok JOIN pos ON i <= len(t)
        |), grams AS (
        |  SELECT doc_id, i - 1 AS q, md5(array_to_string(t[i:i+19], ' ')) AS g
        |  FROM tok JOIN pos ON i <= len(t) - 19
        |), canon AS (
        |  SELECT g, doc_id AS fd, q AS fq FROM (
        |    SELECT g, doc_id, q,
        |      count(*) OVER (PARTITION BY g) AS n,
        |      row_number() OVER (PARTITION BY g ORDER BY doc_id, q) AS rn
        |    FROM grams)
        |  WHERE n >= 2 AND rn = 1
        |), starts AS (
        |  SELECT grams.doc_id, grams.q FROM grams JOIN canon USING (g)
        |  WHERE NOT (grams.doc_id = canon.fd AND grams.q = canon.fq)
        |), flags AS (
        |  SELECT tp.doc_id, tp.p, tp.tk,
        |    CASE WHEN s.q IS NOT NULL THEN 1 ELSE 0 END AS st
        |  FROM tp LEFT JOIN starts s ON tp.doc_id = s.doc_id AND tp.p = s.q
        |), cov AS (
        |  SELECT doc_id, p, tk,
        |    max(st) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS c
        |  FROM flags
        |)
        |SELECT doc_id,
        |  md5(coalesce(string_agg(tk, ' ' ORDER BY p) FILTER (WHERE c = 0), ''))
        |    AS clean_hash,
        |  CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(c) AS BIGINT) AS n_removed
        |FROM cov GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.exactSubstrDedupKeepFirst(
        Tables.load(s, dir, "documents"), "doc_id", "text", minLen = 20)
    },

    // span-level decontamination: cut exactly the 8-gram spans that
    // overlap the benchmark (doc_id < 10, the d10 convention) and
    // keep the rest of each document — the middle ground between
    // d10's doc-level score and leaking the quote. Oracle = the d13
    // cut replay with the benchmark's distinct grams as the cut set.
    Q(
      "d29_decontam_span_cut",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
        |), pos AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(t)) AS INT) FROM tok))) AS i
        |), tp AS (
        |  SELECT doc_id, i - 1 AS p, t[i] AS tk FROM tok JOIN pos ON i <= len(t)
        |), grams AS (
        |  SELECT doc_id, i - 1 AS q, md5(array_to_string(t[i:i+7], ' ')) AS g
        |  FROM tok JOIN pos ON i <= len(t) - 7
        |), bg AS (
        |  SELECT DISTINCT md5(array_to_string(t[i:i+7], ' ')) AS g
        |  FROM tok JOIN pos ON i <= len(t) - 7
        |  WHERE doc_id < 10
        |), starts AS (
        |  SELECT doc_id, q FROM grams WHERE g IN (SELECT g FROM bg)
        |), flags AS (
        |  SELECT tp.doc_id, tp.p, tp.tk,
        |    CASE WHEN s.q IS NOT NULL THEN 1 ELSE 0 END AS st
        |  FROM tp LEFT JOIN starts s ON tp.doc_id = s.doc_id AND tp.p = s.q
        |), cov AS (
        |  SELECT doc_id, p, tk,
        |    max(st) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS c
        |  FROM flags
        |)
        |SELECT doc_id,
        |  md5(coalesce(string_agg(tk, ' ' ORDER BY p) FILTER (WHERE c = 0), ''))
        |    AS clean_hash,
        |  CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(c) AS BIGINT) AS n_removed
        |FROM cov GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.decontamSpanCut(
        docs, "doc_id", "text", docs.where(col("doc_id") < 10), "text",
        w = 8)
    },

    // GLOBAL line-level dedup (the C4 "discard all but one of any
    // repeated line" pass): canonical = corpus-min (doc_id, line_no)
    // per line digest, every other occurrence cut, docs reassembled
    // from survivors. The fixture ships no newlines, so the query
    // derives deterministic 10-token lines in-engine (the m6 analytic-
    // payload discipline) and both engines replay the identical
    // segmentation; duplicate documents collapse to all-lines-removed
    // shells while each first copy stays intact.
    Q(
      "d30_line_dedup",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
        |), pos AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max((len(t) - 1) // 10) AS INT) + 1 FROM tok))) AS j
        |), lg AS (
        |  SELECT doc_id, j - 1 AS line_no,
        |    array_to_string(t[(j-1)*10+1:least(j*10, len(t))], ' ') AS line,
        |    md5(array_to_string(t[(j-1)*10+1:least(j*10, len(t))], ' ')) AS g
        |  FROM tok JOIN pos ON (j - 1) * 10 < len(t)
        |), canon AS (
        |  SELECT g, doc_id AS fd, line_no AS fq FROM (
        |    SELECT g, doc_id, line_no,
        |      count(*) OVER (PARTITION BY g) AS n,
        |      row_number() OVER (PARTITION BY g ORDER BY doc_id, line_no) AS rn
        |    FROM lg WHERE trim(line) <> '') WHERE n >= 2 AND rn = 1
        |), flags AS (
        |  SELECT l.doc_id, l.line_no, l.line,
        |    CASE WHEN c.g IS NOT NULL
        |        AND NOT (l.doc_id = c.fd AND l.line_no = c.fq)
        |      THEN 1 ELSE 0 END AS rm
        |  FROM lg l LEFT JOIN canon c ON l.g = c.g
        |)
        |SELECT doc_id,
        |  md5(coalesce(string_agg(line, chr(10) ORDER BY line_no)
        |    FILTER (WHERE rm = 0), '')) AS clean_hash,
        |  CAST(sum(CASE WHEN rm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(rm) AS BIGINT) AS n_removed
        |FROM flags GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val lines = Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), ((size(col("t")) - 1) / lit(10)).cast("int")),
            j => array_join(slice(col("t"), j * 10 + 1, lit(10)), " ")))
            .as(Seq("line_no", "line")))
      Dedup.lineDedupFromLines(lines, "doc_id", "line_no", "line")
    },

    // cleaned-text output of the cut-transform family (the corpus a
    // production pipeline writes back out): the d27 drop-all exact
    // substring dedup through exactSubstrDedupText, with the digest
    // and length computed FROM the surfaced clean_text column — the
    // oracle rebuilds the cleaned string itself and hashes/measures
    // it, so a reassembly divergence (ordering, separator, empty-doc
    // coalesce) flips cells even when clean_hash alone would agree.
    Q(
      "d31_clean_text",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
        |), pos AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT CAST(max(len(t)) AS INT) FROM tok))) AS i
        |), tp AS (
        |  SELECT doc_id, i - 1 AS p, t[i] AS tk FROM tok JOIN pos ON i <= len(t)
        |), grams AS (
        |  SELECT doc_id, i - 1 AS q, md5(array_to_string(t[i:i+19], ' ')) AS g
        |  FROM tok JOIN pos ON i <= len(t) - 19
        |), dup AS (
        |  SELECT g FROM (SELECT g, count(*) AS n FROM grams GROUP BY g)
        |  WHERE n >= 2
        |), starts AS (
        |  SELECT doc_id, q FROM grams WHERE g IN (SELECT g FROM dup)
        |), flags AS (
        |  SELECT tp.doc_id, tp.p, tp.tk,
        |    CASE WHEN s.q IS NOT NULL THEN 1 ELSE 0 END AS st
        |  FROM tp LEFT JOIN starts s ON tp.doc_id = s.doc_id AND tp.p = s.q
        |), cov AS (
        |  SELECT doc_id, p, tk,
        |    max(st) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS c
        |  FROM flags
        |), txt AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(tk, ' ' ORDER BY p) FILTER (WHERE c = 0), '')
        |      AS clean_text,
        |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    CAST(sum(c) AS BIGINT) AS n_removed
        |  FROM cov GROUP BY doc_id
        |)
        |SELECT doc_id, CAST(length(clean_text) AS BIGINT) AS clean_len,
        |  md5(clean_text) AS text_md5, n_kept, n_removed
        |FROM txt""".stripMargin) { (s, dir) =>
      Dedup.exactSubstrDedupText(
        Tables.load(s, dir, "documents"), "doc_id", "text", minLen = 20)
        .select(col("doc_id"),
          length(col("clean_text")).cast("long").as("clean_len"),
          md5(col("clean_text").cast("binary")).as("text_md5"),
          col("n_kept"), col("n_removed"))
    },

    // SLICE-level distinct-trigram Jaccard matrix: how much raw text
    // each pair of sources shares — the overlap audit a mixture
    // designer runs before setting domain rates (two near-identical
    // slices would double-weight their content). Pure integer set
    // math over DISTINCT (source, shingle-pmd5) rows; zero-overlap
    // pairs kept (matrix semantics); jaccard_ppm =
    // shared·10⁶ div (na+nb−shared) — no doubles anywhere, so the
    // oracle replays every cell exactly.
    Q(
      "d32_source_overlap",
      """WITH t AS (
        |  SELECT source, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT source, unnest(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks) - 1),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [array_to_string(toks, ' ')] END) AS g
        |  FROM t
        |), h AS (
        |  SELECT DISTINCT source,
        |    ('0x'||substr(md5(g),1,15))::BIGINT AS h
        |  FROM sh
        |), sizes AS (
        |  SELECT source, count(*) AS n FROM h GROUP BY source
        |), shr AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS shared
        |  FROM h a JOIN h b USING (h)
        |  WHERE a.source < b.source GROUP BY 1, 2
        |), p AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    a.n AS na, b.n AS nb
        |  FROM sizes a, sizes b WHERE a.source < b.source
        |)
        |SELECT p.source_a, p.source_b,
        |  CAST(p.na AS BIGINT) AS na, CAST(p.nb AS BIGINT) AS nb,
        |  CAST(coalesce(s.shared, 0) AS BIGINT) AS shared,
        |  CAST(coalesce(s.shared, 0) * 1000000
        |    // (p.na + p.nb - coalesce(s.shared, 0)) AS BIGINT)
        |    AS jaccard_ppm
        |FROM p LEFT JOIN shr s USING (source_a, source_b)""".stripMargin) {
      (s, dir) =>
        Dedup.sliceOverlapMatrix(
          Tables.load(s, dir, "documents"), "source", "text")
    },

    // asymmetric containment pairs: doc-inside-doc detection. Jaccard
    // normalizes by the union (a short doc pasted into a long one
    // scores ~0); containment normalizes by the SMALLER shingle set —
    // 1.0 for full inclusion at any size ratio. The corpus has no
    // verbatim inclusions, so the query plants them the d7 way: each
    // shifted-id copy keeps the first 40 tokens (an excerpt), giving
    // known high-containment, low-Jaccard pairs on BOTH engines.
    // Pure integer score (shared·10⁶ div min set size) — exactly
    // replayable, no doubles. Uncapped postings for oracle parity
    // (the d5 contract); production callers keep the skew cap.
    Q(
      "d33_containment_pairs",
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(string_split_regex(trim(text), ' +')[1:40], ' ')
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM d
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END) AS sh
        |  FROM t
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS shared,
        |    len(a.sh) AS na, len(b.sh) AS nb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(shared AS BIGINT) AS shared,
        |  CAST(shared * 1000000 // least(na, nb) AS BIGINT)
        |    AS containment_ppm
        |FROM p
        |WHERE shared > 0
        |  AND shared * 1000000 // least(na, nb) >= 900000""".stripMargin) {
      (s, dir) =>
        val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
        val planted = docs.unionAll(docs.select(
          (col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(
            split(trim(col("text")), " +"), 1, 40), " ").as("text")))
        Dedup.containmentPairs(
          planted, "doc_id", "text",
          thresholdPpm = 900000L, maxPostings = Int.MaxValue)
    },

    // LSH recall AUDIT as a first-class query (the d-family's s20):
    // exact shingle-Jaccard pairs at θ=0.5 (uncapped inverted-index
    // join — the ground truth) vs the production d3 MinHash-LSH
    // pipeline, recall in basis points. One full-outer join of the
    // two pair sets → one global agg; both sides replay in DuckDB
    // from the shared minhash prefix, so the recall NUMBER itself is
    // hash-oracled. This is the audit that justifies the d3 band
    // parameters (16 bands × 4 rows ⇒ P[catch | J=0.5] ≈ 0.67 per
    // the S-curve — recall below ~6500 basis points here would mean
    // the banding is mistuned for the corpus).
    Q("d34_lsh_recall_audit", d34OracleSql) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val ex = Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", threshold = 0.5,
        maxPostings = Int.MaxValue)
        .select(col("id_a"), col("id_b"), lit(1L).as("in_ex"))
      val lsh = Dedup.minhashPairs(
        docs, "doc_id", "text", threshold = 0.5)
        .select(col("id_a"), col("id_b"), lit(1L).as("in_lsh"))
      ex.join(lsh, Seq("id_a", "id_b"), "full_outer")
        .agg(
          coalesce(sum(col("in_ex")), lit(0L)).as("n_exact"),
          coalesce(sum(col("in_lsh")), lit(0L)).as("n_lsh"),
          coalesce(sum(col("in_ex") * col("in_lsh")), lit(0L)).as("n_hits"))
        .withColumn("recall_e4", expr("n_hits * 10000 div n_exact"))
    },

    // SAMPLED LSH recall audit ([[Dedup.lshRecallSampled]]) — d34's
    // methodology at the cost model 100 TB allows: ground truth only
    // for pairs touching the pmd5-sampled query subset (mod 8 ⇒ ~1/8
    // of docs; one-sided postings join, O(sample·corpus) instead of
    // the exhaustive index self-join), the d3 LSH pair set restricted
    // to the same subset, recall in basis points. pmd5 sampling — not
    // rand() — is what keeps the sampled audit hash-oracled: DuckDB
    // replays the sample, both pair sets, and the recall number.
    Q("d38_lsh_recall_sampled", d38OracleSql) { (s, dir) =>
      Dedup.lshRecallSampled(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, sampleMod = 8L)
    },

    // KMV distinct audit per source — the theta-sketch substrate as a
    // first-class operator ([[Kmv.distinctAudit]]): a bounded O(k)
    // aggregate ([[graft.expr.KmvSketch]], k=256 distinct minimum
    // 60-bit shingle hashes, dedupe inside the buffer, mergeable
    // across partitions) next to the exact distinct count and the
    // error in basis points. The production path at 100 TB is the
    // sketch alone (k longs per source at every phase); the exact
    // count rides along here as the audit reference, s20-style. The
    // estimate is exactly replayable: ORDER BY hash LIMIT k + the
    // floored (k−1)·2^60/kth quotient in IEEE doubles.
    Q("d35_kmv_distinct_audit", d35OracleSql) { (s, dir) =>
      Kmv.distinctAudit(Tables.load(s, dir, "documents"))
    },

    // Pairwise source overlap from MERGED KMV sketches
    // ([[Kmv.sourceOverlap]]): union sketch = k smallest of the two
    // kept sets (array math on k-row state — the corpus is never
    // re-joined), intersection by inclusion-exclusion, Jaccard in
    // basis points. The set-algebra property is why KMV beats HLL for
    // corpus audits: S sources compare in S² array ops, not S² data
    // joins (d32 is the exact twin this estimates).
    Q("d36_kmv_source_overlap", d36OracleSql) { (s, dir) =>
      Kmv.sourceOverlap(Tables.load(s, dir, "documents"))
    },

    // ONE-PASS table profile ([[Kmv.tableProfile]]) — the ANALYZE-style
    // ops report: per column, rows / nulls / exact distinct / KMV
    // estimate / error bp, every column's statistics riding a single
    // corpus scan (the sketches O(k) each, map-side bounded). The
    // oracle replays each column's bottom-k pmd5 set and the shared
    // estimator formula.
    Q("d37_table_profile", d37OracleSql) { (s, dir) =>
      Kmv.tableProfile(
        Tables.load(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
    }
  )

  /** d22/d23 replay: d5's trigram-set CTE → shared≥2 edge list →
    * outdeg window → `iterations` unrolled rank CTEs in pure BIGINT
    * (sums go HUGEINT in DuckDB; the final CAST restores the wire
    * type). `seedWhere = None` is plain PageRank (uniform base/init,
    * top 20 over all docs); `Some(pred)` is the personalized variant
    * (base/init gated to the seed set, output filtered to reached
    * non-seeds); `weighted = true` splits mass by shared-shingle
    * count instead of degree (the d25 variant). */
  private def pagerankOracleSql(
      seedWhere: Option[String], iters: Int = 5,
      weighted: Boolean = false): String = {
    val sb = new StringBuilder
    sb ++= """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      |      ELSE [array_to_string(toks, ' ')] END) AS g
      |  FROM t
      |), pe0 AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.g, b.g)) AS w
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |), pe AS (
      |  SELECT id_a, id_b, w FROM pe0 WHERE w >= 2
      |), de AS (
      |  SELECT id_a AS src, id_b AS dst, w FROM pe
      |  UNION ALL SELECT id_b, id_a, w FROM pe
      |), ed AS (
      |  SELECT src, dst, w,
      |    count(*) OVER (PARTITION BY src) AS outdeg,
      |    sum(w) OVER (PARTITION BY src) AS sw
      |  FROM de
      |), verts AS (SELECT doc_id AS id FROM documents)"""
      .stripMargin
    seedWhere match {
      case Some(pred) => sb ++= s""",
        |sd AS (SELECT doc_id AS id FROM documents WHERE $pred),
        |vb AS (
        |  SELECT v.id,
        |    CASE WHEN s.id IS NULL THEN 0 ELSE 150000000 END AS base,
        |    CASE WHEN s.id IS NULL THEN 0 ELSE 1000000000 END AS init
        |  FROM verts v LEFT JOIN sd s USING (id))""".stripMargin
      case None => sb ++= """,
        |vb AS (SELECT id, 150000000 AS base, 1000000000 AS init
        |       FROM verts)""".stripMargin
    }
    sb ++= """,
      |r0 AS (SELECT id, CAST(init AS BIGINT) AS rank FROM vb)"""
      .stripMargin
    val contrib =
      if (weighted) "(((r.rank * 85) // 100) * e.w) // e.sw"
      else "((r.rank * 85) // 100) // e.outdeg"
    for (i <- 1 to iters) sb ++= s""",
      |r$i AS (
      |  SELECT v.id, v.base + coalesce(m$i.m, 0) AS rank
      |  FROM vb v LEFT JOIN (
      |    SELECT e.dst AS id, sum($contrib) AS m
      |    FROM ed e JOIN r${i - 1} r ON e.src = r.id GROUP BY e.dst
      |  ) m$i USING (id))""".stripMargin
    val gate = seedWhere
      .map(_ => "WHERE rank > 0 AND id NOT IN (SELECT id FROM sd)\n")
      .getOrElse("")
    sb ++= s"""
      |SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank_e9
      |FROM r$iters
      |${gate}ORDER BY rank DESC, id ASC LIMIT 20""".stripMargin
    sb.toString
  }

  private lazy val d22OracleSql: String = pagerankOracleSql(None)

  // ---- generated oracle SQL for the sketch replays ----------------------
  // The LSH pipelines key exclusively on portable primitives (pmd5 =
  // first 15 hex digits of md5; affine minwise constants = md5 of fixed
  // labels), so their DuckDB oracles are full replays — generated here
  // with the identical constants inlined, never hand-maintained. The
  // `//`/`%`/`>>`/`&` integer semantics agree across engines for the
  // non-negative operands used.

  /** `pmd5(e)` in DuckDB: BIGINT from the first 15 md5 hex digits. */
  private[ext] def pmSql(e: String) = s"('0x'||substr(md5($e),1,15))::BIGINT"

  /** Shared prefix: tokens → per-token pmd5 hashes (Spark
    * [[Dedup.tokenHashes]] ≡ `split(trim(text), " +")` + pmd5). */
  private def tokenHashCtes =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
       |), th AS (
       |  SELECT doc_id, list_transform(t, x -> ${pmSql("x")}) AS h FROM toks
       |)""".stripMargin

  /** Distinct w=3 shingle hashes (Spark [[Dedup.shingleHashArray]]):
    * pmd5 of the comma-joined decimal token hashes; <3 tokens hash the
    * whole token-hash array as one shingle. */
  private def invertedCte =
    s"""inv AS (
       |  SELECT doc_id AS id, unnest(list_distinct(CASE WHEN len(h) >= 3
       |    THEN list_transform(range(1, len(h) - 1),
       |         i -> ${pmSql("h[i]::VARCHAR||','||h[i+1]::VARCHAR||','||h[i+2]::VARCHAR")})
       |    ELSE [${pmSql("array_to_string(h, ',')")}] END)) AS g
       |  FROM th
       |)""".stripMargin

  /** Full MinHash-LSH replay: 64 affine minhashes over the split 60-bit
    * gram (u = g>>30, v = g mod 2^30), 16 band hashes of 4 rows each,
    * maxBucket=1000 cap, band-collision candidates, exact-Jaccard
    * verify at the RAW ratio, e4-rounded output — step for step the
    * [[Dedup.minhashPairs]] default pipeline. */
  /** Shared minhash replay prefix ending at `buck` ((id, band, bh)
    * rows): 64 affine minhashes over the split 60-bit gram, 16 band
    * hashes of 4 rows, set size `n` riding the sig aggregation —
    * [[Dedup.minhashBandsAgg]] + the band explode, identically for the
    * self-join (d3) and the cross-corpus probe (d19). */
  private def minhashReplayCtes(k: Int = 64, bands: Int = 16): String = {
    val rows = k / bands
    val p = Dedup.PortableHash.P31
    val m30 = Dedup.PortableHash.M30
    val ab = Dedup.PortableHash.affine(k)
    val mins = (0 until k).map { i =>
      val (a, b, c) = ab(i)
      s"    min((($a*(g>>30))%$p + ($b*(g%$m30))%$p + $c)%$p) AS h$i"
    }.mkString(",\n")
    val bhs = (0 until bands).map { b =>
      val parts = (b * rows until (b + 1) * rows)
        .map(i => s"h$i::VARCHAR").mkString("||','||")
      s"    ${pmSql(parts)} AS bh$b"
    }.mkString(",\n")
    s"""$tokenHashCtes, $invertedCte, sig AS (
       |  SELECT id, count(*) AS n,
       |$mins
       |  FROM inv GROUP BY id
       |), bnd AS (
       |  SELECT id,
       |$bhs
       |  FROM sig
       |), buck AS (
       |  SELECT id, unnest([${(0 until bands).mkString(", ")}]) AS band,
       |    unnest([${(0 until bands).map(b => s"bh$b").mkString(", ")}]) AS bh
       |  FROM bnd
       |)""".stripMargin
  }

  private lazy val d3OracleSql: String = {
    s"""WITH ${minhashReplayCtes()}, ok AS (
       |  SELECT band, bh FROM buck GROUP BY band, bh HAVING count(*) <= 1000
       |), capped AS (
       |  SELECT bu.id, bu.band, bu.bh FROM buck bu JOIN ok USING (band, bh)
       |), cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM capped a JOIN capped b USING (band, bh)
       |  WHERE a.id < b.id
       |), sh AS (
       |  SELECT c.id_a, c.id_b, count(*) AS shared
       |  FROM cand c
       |  JOIN inv ia ON ia.id = c.id_a
       |  JOIN inv ib ON ib.id = c.id_b AND ib.g = ia.g
       |  GROUP BY c.id_a, c.id_b
       |)
       |SELECT s.id_a, s.id_b,
       |  CAST(round(round(CAST(s.shared AS DOUBLE)/CAST(na.n + nb.n - s.shared AS DOUBLE), 4)*10000) AS BIGINT) AS jaccard_e4
       |FROM sh s
       |JOIN sig na ON na.id = s.id_a
       |JOIN sig nb ON nb.id = s.id_b
       |WHERE CAST(s.shared AS DOUBLE)/CAST(na.n + nb.n - s.shared AS DOUBLE) >= 0.5""".stripMargin
  }

  /** d34 replay: the d3 minhash pipeline (verbatim CTEs) next to the
    * UNCAPPED exact-Jaccard ground truth over the same `inv` gram
    * relation; recall = |LSH ∩ exact| / |exact| in basis points. */
  private lazy val d34OracleSql: String = {
    s"""WITH ${minhashReplayCtes()}, ok AS (
       |  SELECT band, bh FROM buck GROUP BY band, bh HAVING count(*) <= 1000
       |), capped AS (
       |  SELECT bu.id, bu.band, bu.bh FROM buck bu JOIN ok USING (band, bh)
       |), cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM capped a JOIN capped b USING (band, bh)
       |  WHERE a.id < b.id
       |), shq AS (
       |  SELECT c.id_a, c.id_b, count(*) AS shared
       |  FROM cand c
       |  JOIN inv ia ON ia.id = c.id_a
       |  JOIN inv ib ON ib.id = c.id_b AND ib.g = ia.g
       |  GROUP BY 1, 2
       |), lsh AS (
       |  SELECT s.id_a, s.id_b FROM shq s
       |  JOIN sig na ON na.id = s.id_a
       |  JOIN sig nb ON nb.id = s.id_b
       |  WHERE CAST(s.shared AS DOUBLE)
       |    / CAST(na.n + nb.n - s.shared AS DOUBLE) >= 0.5
       |), shx AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
       |  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
       |  GROUP BY 1, 2
       |), ex AS (
       |  SELECT s.id_a, s.id_b FROM shx s
       |  JOIN sig na ON na.id = s.id_a
       |  JOIN sig nb ON nb.id = s.id_b
       |  WHERE CAST(s.shared AS DOUBLE)
       |    / CAST(na.n + nb.n - s.shared AS DOUBLE) >= 0.5
       |), hits AS (
       |  SELECT count(*) AS n FROM ex JOIN lsh USING (id_a, id_b)
       |)
       |SELECT (SELECT count(*) FROM ex) AS n_exact,
       |  (SELECT count(*) FROM lsh) AS n_lsh,
       |  (SELECT n FROM hits) AS n_hits,
       |  (SELECT n FROM hits) * 10000
       |    // (SELECT count(*) FROM ex) AS recall_e4""".stripMargin
  }

  /** d38 replay: d34's two pair sets, each restricted to pairs
    * touching the pmd5-sampled query subset (`pmd5(id) % 8 = 0` — the
    * engine's deterministic sample, replayed verbatim), plus the
    * sampled-query count. The oracle formulation keeps the exhaustive
    * self-join (DuckDB at sf is fine); the ENGINE's exact side is the
    * one-sided O(sample·corpus) join — equality of the two is exactly
    * what the hash certifies. */
  private lazy val d38OracleSql: String = {
    s"""WITH ${minhashReplayCtes()}, qs AS (
       |  SELECT doc_id AS id FROM documents
       |  WHERE ${pmSql("CAST(doc_id AS VARCHAR)")} % 8 = 0
       |), ok AS (
       |  SELECT band, bh FROM buck GROUP BY band, bh HAVING count(*) <= 1000
       |), capped AS (
       |  SELECT bu.id, bu.band, bu.bh FROM buck bu JOIN ok USING (band, bh)
       |), cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM capped a JOIN capped b USING (band, bh)
       |  WHERE a.id < b.id
       |), shq AS (
       |  SELECT c.id_a, c.id_b, count(*) AS shared
       |  FROM cand c
       |  JOIN inv ia ON ia.id = c.id_a
       |  JOIN inv ib ON ib.id = c.id_b AND ib.g = ia.g
       |  GROUP BY 1, 2
       |), lsh AS (
       |  SELECT s.id_a, s.id_b FROM shq s
       |  JOIN sig na ON na.id = s.id_a
       |  JOIN sig nb ON nb.id = s.id_b
       |  WHERE CAST(s.shared AS DOUBLE)
       |    / CAST(na.n + nb.n - s.shared AS DOUBLE) >= 0.5
       |    AND (s.id_a IN (SELECT id FROM qs)
       |      OR s.id_b IN (SELECT id FROM qs))
       |), shx AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
       |  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
       |  GROUP BY 1, 2
       |), ex AS (
       |  SELECT s.id_a, s.id_b FROM shx s
       |  JOIN sig na ON na.id = s.id_a
       |  JOIN sig nb ON nb.id = s.id_b
       |  WHERE CAST(s.shared AS DOUBLE)
       |    / CAST(na.n + nb.n - s.shared AS DOUBLE) >= 0.5
       |    AND (s.id_a IN (SELECT id FROM qs)
       |      OR s.id_b IN (SELECT id FROM qs))
       |), hits AS (
       |  SELECT count(*) AS n FROM ex JOIN lsh USING (id_a, id_b)
       |)
       |SELECT (SELECT count(*) FROM qs) AS n_queries,
       |  (SELECT count(*) FROM ex) AS n_exact,
       |  (SELECT count(*) FROM lsh) AS n_lsh,
       |  (SELECT n FROM hits) AS n_hits,
       |  CASE WHEN (SELECT count(*) FROM ex) = 0 THEN 10000
       |    ELSE (SELECT n FROM hits) * 10000
       |      // (SELECT count(*) FROM ex) END AS recall_e4""".stripMargin
  }

  /** Shared KMV prefix: per-(source, distinct shingle-hash) rows `hs`
    * — the [[Kmv]] substrate ([[tokenHashCtes]]/[[invertedCte]]
    * identity, plus source). */
  private def kmvSourceCtes: String =
    s"""tokS AS (
       |  SELECT source, string_split_regex(trim(text), ' +') AS t
       |  FROM documents
       |), thS AS (
       |  SELECT source, list_transform(t, x -> ${pmSql("x")}) AS h FROM tokS
       |), gS AS (
       |  SELECT source, unnest(list_distinct(CASE WHEN len(h) >= 3
       |    THEN list_transform(range(1, len(h) - 1),
       |         i -> ${pmSql(
                   "h[i]::VARCHAR||','||h[i+1]::VARCHAR||','||h[i+2]::VARCHAR")})
       |    ELSE [${pmSql("array_to_string(h, ',')")}] END)) AS g
       |  FROM thS
       |), hs AS (
       |  SELECT DISTINCT source, g FROM gS
       |)""".stripMargin

  /** KMV estimate SQL over a kept-ascending LIST column `l` of size
    * ≤ k: exact while not full, floored (k−1)·2^60/kth otherwise —
    * the [[Kmv.estimate]] IEEE-double contract verbatim. */
  private def kmvEstSql(l: String, k: Int): String =
    s"""CASE WHEN len($l) < $k THEN len($l)
       |  ELSE CAST(floor(${(k - 1).toDouble} * 1152921504606846976.0
       |    / CAST($l[$k] AS DOUBLE)) AS BIGINT) END""".stripMargin

  private lazy val d35OracleSql: String = {
    val k = Kmv.DefaultK
    s"""WITH $kmvSourceCtes, rk AS (
       |  SELECT source, g,
       |    row_number() OVER (PARTITION BY source ORDER BY g) AS rn
       |  FROM hs
       |), kp AS (
       |  SELECT source, list(g ORDER BY g) AS sk
       |  FROM rk WHERE rn <= $k GROUP BY source
       |), exx AS (
       |  SELECT source, count(*) AS exact_distinct FROM hs GROUP BY source
       |), est AS (
       |  SELECT kp.source, len(kp.sk) AS n_kept,
       |    CASE WHEN len(kp.sk) < $k THEN 0 ELSE kp.sk[$k] END AS kth_min,
       |    ${kmvEstSql("kp.sk", k)} AS est_distinct,
       |    exx.exact_distinct
       |  FROM kp JOIN exx USING (source)
       |)
       |SELECT source, CAST(n_kept AS BIGINT) AS n_kept, kth_min,
       |  est_distinct, exact_distinct,
       |  abs(est_distinct - exact_distinct) * 10000
       |    // exact_distinct AS err_e4
       |FROM est""".stripMargin
  }

  /** d37 replay: per profiled column, the bottom-k distinct pmd5 set
    * (kept ascending) + exact counts, one UNION ALL row per column
    * through the shared [[kmvEstSql]] estimator. */
  private lazy val d37OracleSql: String = {
    val k = Kmv.DefaultK
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val ctes = cols.map { c =>
      s"""k_$c AS (
         |  SELECT list(h ORDER BY h) AS sk FROM (
         |    SELECT DISTINCT ${pmSql(s"CAST($c AS VARCHAR)")} AS h
         |    FROM documents WHERE $c IS NOT NULL
         |    ORDER BY h LIMIT $k))""".stripMargin
    }.mkString(",\n")
    val rows = cols.map { c =>
      s"""SELECT '$c' AS "column",
         |  (SELECT count(*) FROM documents) AS n_rows,
         |  (SELECT count(*) FROM documents WHERE $c IS NULL) AS n_nulls,
         |  (SELECT count(DISTINCT $c) FROM documents) AS n_distinct,
         |  (SELECT ${kmvEstSql("sk", k)} FROM k_$c) AS kmv_est,
         |  abs((SELECT ${kmvEstSql("sk", k)} FROM k_$c)
         |      - (SELECT count(DISTINCT $c) FROM documents)) * 10000
         |    // (SELECT count(DISTINCT $c) FROM documents) AS err_e4""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $ctes\n$rows"
  }

  private lazy val d36OracleSql: String = {
    val k = Kmv.DefaultK
    s"""WITH $kmvSourceCtes, rk AS (
       |  SELECT source, g,
       |    row_number() OVER (PARTITION BY source ORDER BY g) AS rn
       |  FROM hs
       |), kp AS (
       |  SELECT source, list(g ORDER BY g) AS sk
       |  FROM rk WHERE rn <= $k GROUP BY source
       |), est AS (
       |  SELECT source, sk, ${kmvEstSql("sk", k)} AS est FROM kp
       |), pr AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    a.est AS est_a, b.est AS est_b,
       |    list_sort(list_distinct(a.sk || b.sk))[1:$k] AS usk
       |  FROM est a JOIN est b ON a.source < b.source
       |), pu AS (
       |  SELECT src_a, src_b, est_a, est_b,
       |    ${kmvEstSql("usk", k)} AS est_union
       |  FROM pr
       |), ov AS (
       |  SELECT src_a, src_b, est_a, est_b, est_union,
       |    greatest(0, est_a + est_b - est_union) AS est_overlap
       |  FROM pu
       |)
       |SELECT src_a, src_b, est_a, est_b, est_union, est_overlap,
       |  est_overlap * 10000 // est_union AS jaccard_e4
       |FROM ov""".stripMargin
  }

  /** d19 replay: the same minhash prefix split at doc_id 250 — corpus
    * buckets (id < 250) capped at 1000 entries, batch buckets
    * (id ≥ 250) probe them, shared postings verify exact Jaccard.
    * Mirrors [[Dedup.minhashPairsAgainstCorpus]] (computing each
    * side's signatures from the full-corpus prefix filtered by id is
    * identical to computing them per side: sig/bnd/buck are all
    * per-document). */
  private lazy val d19OracleSql: String = minhashProbeSql("id < 250")

  /** d39 replay: d19's probe with the corpus side cut to the LIVE
    * docs — after compaction ([[Dedup.MinhashFamily]]) the index is
    * bit-identical to one built on the surviving corpus, so the
    * replay is exactly the d19 text with the tombstone predicate on
    * `bc` (the bucket-cap HAVING recounts live membership, which is
    * what compaction's recomputed `bucket_n` serves). */
  private lazy val d39OracleSql: String = minhashProbeSql(
    s"id < 250 AND ${pmSql("CAST(id AS VARCHAR)")} % 8 <> 0")

  private def minhashProbeSql(corpusPred: String): String = {
    s"""WITH ${minhashReplayCtes()}, bc AS (
       |  SELECT id, band, bh FROM buck WHERE $corpusPred
       |), bb AS (
       |  SELECT id, band, bh FROM buck WHERE id >= 250
       |), ok AS (
       |  SELECT band, bh FROM bc GROUP BY band, bh HAVING count(*) <= 1000
       |), cand AS (
       |  SELECT DISTINCT b.id AS id_a, c.id AS id_b
       |  FROM bb b
       |  JOIN (SELECT bc.id, bc.band, bc.bh FROM bc JOIN ok USING (band, bh)) c
       |    USING (band, bh)
       |), sh AS (
       |  SELECT c.id_a, c.id_b, count(*) AS shared
       |  FROM cand c
       |  JOIN inv ia ON ia.id = c.id_a
       |  JOIN inv ib ON ib.id = c.id_b AND ib.g = ia.g
       |  GROUP BY c.id_a, c.id_b
       |)
       |SELECT s.id_a AS batch_id, s.id_b AS corpus_id,
       |  CAST(round(round(CAST(s.shared AS DOUBLE)/CAST(na.n + nb.n - s.shared AS DOUBLE), 4)*10000) AS BIGINT) AS jaccard_e4
       |FROM sh s
       |JOIN sig na ON na.id = s.id_a
       |JOIN sig nb ON nb.id = s.id_b
       |WHERE CAST(s.shared AS DOUBLE)/CAST(na.n + nb.n - s.shared AS DOUBLE) >= 0.5""".stripMargin
  }

  /** Full SimHash replay: 60 per-bit vote sums over NON-distinct
    * per-token pmd5 hashes, sign → signature, 4×15-bit pigeonhole chunk
    * self-join, popcount(xor) ≤ 3 — [[Dedup.simhashPairs]] exactly. */
  private lazy val d4OracleSql: String = {
    val bits = Dedup.SimhashBits
    val votes = (0 until bits).map(b =>
      s"    sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n")
    val sig = (0 until bits)
      .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    val mask = (1 << (bits / 4)) - 1
    val chunks = (0 until 4)
      .map(c => s"(sig >> ${c * (bits / 4)}) & $mask").mkString(", ")
    s"""WITH $tokenHashCtes, tok AS (
       |  SELECT doc_id AS id, unnest(h) AS th FROM th
       |), votes AS (
       |  SELECT id,
       |$votes
       |  FROM tok GROUP BY id
       |), sigs AS (
       |  SELECT id, $sig AS sig FROM votes
       |), ch AS (
       |  SELECT id, sig, unnest([0, 1, 2, 3]) AS chunk,
       |    unnest([$chunks]) AS chv
       |  FROM sigs
       |), pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    bit_count(xor(a.sig, b.sig)) AS dist
       |  FROM ch a JOIN ch b USING (chunk, chv)
       |  WHERE a.id < b.id
       |)
       |SELECT id_a, id_b, CAST(dist AS BIGINT) AS dist FROM pairs
       |WHERE dist <= 3""".stripMargin
  }

  /** Left-associated dot-product chain — replays VectorDot's sequential
    * i=0..n-1 double accumulation bit-for-bit (SQL `+` is
    * left-associative; float→double widening is exact; Scala's Double
    * toString round-trips through DuckDB's correctly-rounded parser). */
  private def dotChain(vec: String, coeffs: Seq[Double]): String =
    coeffs.zipWithIndex
      .map { case (c, i) => s"$vec[${i + 1}]::DOUBLE*($c)" }.mkString(" + ")

  /** Pairwise dot chain for two row vectors of width `dim`. */
  private def dotChain2(a: String, b: String, dim: Int): String =
    (1 to dim).map(i => s"$a[$i]::DOUBLE*$b[$i]::DOUBLE").mkString(" + ")

  /** Max planes-per-band the generated oracle supports: covers corpora
    * up to 64·2⁸ = 16384 vectors (derivePlanesPerBand(n, 64) ≤ 8).
    * Oracle-scale corpora are ≤ 5000; a bigger corpus would fall into
    * the ELSE arm and visibly mismatch rather than silently pass. */
  // `final` + literal → compile-time constant: `all`'s Q entries force
  // the lazy oracle SQL during object init, before ordinary vals
  // declared below them would be assigned (the d3 "null" lesson).
  private final val MaxOraclePlanes = 8

  /** Sign-LSH candidate + raw-cosine verify replay over `embeddings` —
    * the [[Similarity.cosineNearDupPairs]] default pipeline (bands = 4,
    * targetBucket = 64, maxBucket = 1000, dim = 64). planesPerBand
    * derives from count(*) with the integer CASE ladder (smallest p
    * with 2^p ≥ ceil(n/64), clamped ≥1 — [[Similarity
    * .derivePlanesPerBand]]); plane j of `hyperplanes(p, dim, seed)` is
    * a PREFIX of `hyperplanes(8, dim, seed)` (Seq.fill draws gaussians
    * plane-major from the fixed seed), so the 8-plane literals cover
    * every derivable p with a `j < p` mask. */
  private def cosineLshCtes(threshold: Double): String = {
    val dim = 64; val bands = 4
    val pLadder =
      """CASE WHEN c <= 2 THEN 1 WHEN c <= 4 THEN 2 WHEN c <= 8 THEN 3
        |      WHEN c <= 16 THEN 4 WHEN c <= 32 THEN 5 WHEN c <= 64 THEN 6
        |      WHEN c <= 128 THEN 7 ELSE 8 END""".stripMargin
    val buckets = (0 until bands).map { b =>
      val planes = Similarity.hyperplanes(MaxOraclePlanes, dim, seed = 42L + b)
      planes.zipWithIndex.map { case (pl, j) =>
        s"(CASE WHEN $j < geo.p AND ${dotChain("e", pl)} >= 0 " +
          s"THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n      + ")
    }
    s"""v AS (
       |  SELECT vec_id AS id, embedding AS e FROM embeddings
       |), geo AS (
       |  SELECT $pLadder AS p
       |  FROM (SELECT (greatest(count(*), 1) + 63) // 64 AS c FROM embeddings)
       |), sg AS (
       |  SELECT id, unnest([${(0 until bands).mkString(", ")}]) AS band,
       |    unnest([
       |      ${buckets.mkString(",\n      ")}]) AS bucket
       |  FROM v, geo
       |), ok AS (
       |  SELECT band, bucket FROM sg GROUP BY band, bucket
       |  HAVING count(*) <= 1000
       |), capped AS (
       |  SELECT s.id, s.band, s.bucket FROM sg s JOIN ok USING (band, bucket)
       |), cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM capped a JOIN capped b USING (band, bucket)
       |  WHERE a.id < b.id
       |), pv AS (
       |  SELECT c.id_a, c.id_b,
       |    (${dotChain2("a.e", "b.e", dim)})
       |      / (sqrt(${dotChain2("a.e", "a.e", dim)})
       |         * sqrt(${dotChain2("b.e", "b.e", dim)})) AS cos
       |  FROM cand c JOIN v a ON a.id = c.id_a JOIN v b ON b.id = c.id_b
       |), pr AS (
       |  SELECT id_a, id_b, cos FROM pv WHERE cos >= $threshold
       |)""".stripMargin
  }

  /** d6: the sign-LSH near-dup pairs, e6-floored cosine output. */
  private lazy val d6OracleSql: String =
    s"""WITH ${cosineLshCtes(0.4)}
       |SELECT id_a, id_b, CAST(floor(cos*1000000) AS BIGINT) AS cos_e6
       |FROM pr""".stripMargin

  /** d11: d6's pair replay → d8's recursive-CTE connected components →
    * survivor window (max norm-e6 score, min-id tiebreak; singletons
    * keep themselves) — [[Dedup.dedupCorpusByCosine]] end to end. */
  /** d18: SemDeDup replay — [[KmeansOracle.lloydCtes]] centroid
    * training → [[KmeansOracle.routedCtes]] two-level routed
    * assignment (meta-Lloyd over the centroids, r=√k=4 groups) →
    * maxCell=1000 cap (surfaced as `cell_capped`, never a silent
    * drop) → in-cell pairs → e6-rounded cosine ≥ 0.4 → d8
    * recursive-CTE connected components → d11 survivor window. */
  private lazy val d18OracleSql: String =
    s"""WITH RECURSIVE ${KmeansOracle.lloydCtes()},
       |${KmeansOracle.routedCtes("cents3", r = 4)},
       |cnt AS (SELECT ci, count(*) AS n FROM asgr GROUP BY ci),
       |flg AS (
       |  SELECT a.id,
       |    CASE WHEN c.n > 1000 THEN 1 ELSE 0 END AS cell_capped
       |  FROM asgr a JOIN cnt c USING (ci)),
       |cp AS (
       |  SELECT a.id, a.e, a.ci FROM asgr a JOIN cnt c USING (ci)
       |  WHERE c.n <= 1000),
       |pv AS (
       |  SELECT x.id AS id_a, y.id AS id_b,
       |    round((${dotChain2("x.e", "y.e", 64)})
       |      / (sqrt(${dotChain2("x.e", "x.e", 64)})
       |         * sqrt(${dotChain2("y.e", "y.e", 64)})), 6) AS cos6
       |  FROM cp x JOIN cp y ON x.ci = y.ci AND x.id < y.id
       |), pr AS (
       |  SELECT id_a, id_b FROM pv WHERE cos6 >= 0.4
       |), edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pr
       |  UNION ALL SELECT id_b, id_a FROM pr
       |), walk(a, lbl) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.a
       |), cl AS (
       |  SELECT a AS id, min(lbl) AS cluster_id FROM walk GROUP BY a
       |), scored AS (
       |  SELECT v.id, coalesce(cl.cluster_id, v.id) AS cluster_id,
       |    CAST(round(sqrt(${dotChain2("v.e", "v.e", 64)})*1000000) AS BIGINT)
       |      AS score
       |  FROM v LEFT JOIN cl ON cl.id = v.id
       |), ranked AS (
       |  SELECT id, cluster_id, score,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY score DESC, id ASC) AS rn,
       |    count(*) OVER (PARTITION BY cluster_id) AS n_members
       |  FROM scored
       |)
       |SELECT r.id AS keep_id, r.cluster_id, r.score,
       |  CAST(r.n_members AS BIGINT) AS n_members,
       |  CAST(f.cell_capped AS BIGINT) AS cell_capped
       |FROM ranked r JOIN flg f ON f.id = r.id WHERE rn = 1""".stripMargin

  private lazy val d11OracleSql: String =
    s"""WITH RECURSIVE ${cosineLshCtes(0.4)}, edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pr
       |  UNION ALL SELECT id_b, id_a FROM pr
       |), walk(a, lbl) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.a
       |), cl AS (
       |  SELECT a AS id, min(lbl) AS cluster_id FROM walk GROUP BY a
       |), scored AS (
       |  SELECT v.id, coalesce(cl.cluster_id, v.id) AS cluster_id,
       |    CAST(round(sqrt(${dotChain2("v.e", "v.e", 64)})*1000000) AS BIGINT)
       |      AS score
       |  FROM v LEFT JOIN cl ON cl.id = v.id
       |), ranked AS (
       |  SELECT id, cluster_id, score,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY score DESC, id ASC) AS rn,
       |    count(*) OVER (PARTITION BY cluster_id) AS n_members
       |  FROM scored
       |)
       |SELECT id AS keep_id, cluster_id, score, CAST(n_members AS BIGINT)
       |  AS n_members
       |FROM ranked WHERE rn = 1""".stripMargin
}
