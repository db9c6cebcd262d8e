package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal, Similarity}

/** Planted-duplicate correctness for the dedup/similarity sketches. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 20 base docs (100 tokens from a 26-word pool — wide enough that one
  // changed word leaves most simhash bit margins intact) + near-dups of
  // the first 5 (one word changed) + exact dups of the next 3
  private lazy val corpus = {
    val words = Seq("spark", "query", "table", "row", "scan", "merge",
      "join", "filter", "sort", "hash", "index", "block", "chain", "data",
      "batch", "stream", "shuffle", "codegen", "plan", "stage", "task",
      "node", "disk", "memory", "cache", "store")
    val base = (0 until 20).map { i =>
      (i.toLong,
        (0 until 100).map(j => words((i * 7 + j * 3 + j * j) % words.size))
          .mkString(" "))
    }
    val nearDups = (0 until 5).map { i =>
      val toks = base(i)._2.split(" ").toVector.updated(50, "CHANGED")
      (100L + i, toks.mkString(" "))
    }
    val exactDups = (5 until 8).map(i => (200L + i, base(i)._2))
    (base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  test("minhash LSH finds planted near-dups and exact dups") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0 until 5) assert(pairs.contains((i.toLong, 100L + i)),
      s"missing near-dup pair ($i, ${100 + i})")
    for (i <- 5 until 8) assert(pairs.contains((i.toLong, 200L + i)),
      s"missing exact-dup pair ($i, ${200 + i})")
  }

  test("minhash against-corpus probe: cross-side pairs only, equal to the self-join restricted") {
    val index = corpus.where(col("doc_id") < 100) // the accumulated corpus
    val batch = corpus.where(col("doc_id") >= 100) // the arriving batch
    val cross = Dedup.minhashPairsAgainstCorpus(
      batch, index, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every pair is batch->corpus; never corpus-corpus or batch-batch
    assert(cross.keys.forall { case (a, b) => a >= 100 && b < 100 })
    for (i <- 0 until 5) assert(cross.contains((100L + i, i.toLong)),
      s"missing near-dup probe hit (${100 + i}, $i)")
    for (i <- 5 until 8) assert(cross.contains((200L + i, i.toLong)),
      s"missing exact-dup probe hit (${200 + i}, $i)")
    // identical to the full self-join restricted to cross-split pairs
    // (no bucket hits the cap in this corpus), jaccard included
    val full = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5)
      .where(col("id_a") < 100 && col("id_b") >= 100)
      .collect().map(r => ((r.getLong(1), r.getLong(0)), r.getDouble(2))).toMap
    assert(cross === full)
  }

  test("persisted IVF tombstones: sidecar delete serves immediately, " +
    "compaction rewrites ONLY the affected cell directories") {
    import scala.jdk.CollectionConverters._
    val dim = 16
    val vecs = (0 until 120).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i / 12 * 17.0 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.ivfBuild(
      df, "vec_id", "embedding", k = 8, dim = Some(dim))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivftomb").toString
    Similarity.ivfIndexWrite(idx, dir)
    def cells(i: Similarity.IvfIndex): Set[(Long, Int)] =
      i.assigned.select(col("id").cast("long"), col("c"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val victims = Seq(0L, 60L)
    val expect = cells(Similarity.ivfDelete(
      idx, victims.toDF("vec_id"), "vec_id"))
    // LOGICAL: sidecar only — read-back already excludes the victims
    Similarity.IvfFamily.delete(dir, victims.toDF("vec_id"), "vec_id")
    assert(cells(Similarity.ivfIndexRead(spark, dir)) === expect)
    // which cells hold the victims? everything else must not be touched
    val affected = cells(idx).filter(e => victims.contains(e._1)).map(_._2)
    def listing(): Map[String, Set[String]] = {
      // resolve per call: compaction publishes a NEW version dir
      val root = java.nio.file.Paths.get(
        graft.util.Manifest.tablePath(dir, "assigned"))
      val walk = java.nio.file.Files.list(root)
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("c="))
        .map { p =>
          val files = java.nio.file.Files.list(p)
          try p.getFileName.toString ->
            files.iterator().asScala.map(_.getFileName.toString)
              .filter(_.endsWith(".parquet")).toSet
          finally files.close()
        }.toMap
      finally walk.close()
    }
    val before = listing()
    Similarity.IvfFamily.compact(spark, dir)
    val after = listing()
    // the sidecar retires in the SAME manifest flip as the compacted
    // data (its plain dir may linger until GC grace — the manifest is
    // authoritative)
    assert(!graft.util.Manifest.tableExists(dir, "tombstones"))
    assert(cells(Similarity.ivfIndexRead(spark, dir)) === expect)
    for ((cdir, files) <- before) {
      val c = cdir.stripPrefix("c=").toInt
      if (affected.contains(c))
        assert(after(cdir) !== files, s"$cdir should have been rewritten")
      else
        assert(after(cdir) === files, s"$cdir must be untouched bytes")
    }
    // RESURRECTION: a tombstoned id that is re-ingested (idempotent
    // append) must serve again — stale rows scrubbed, sidecar entry
    // dropped, exactly one live row
    Similarity.IvfFamily.delete(dir, Seq(30L).toDF("vec_id"), "vec_id")
    assert(!cells(Similarity.ivfIndexRead(spark, dir)).exists(_._1 == 30L))
    Similarity.ivfIndexAppendIdempotent(
      spark, dir, df.where(col("vec_id") === 30L), "vec_id", "embedding")
    val resurrected = Similarity.ivfIndexRead(spark, dir).assigned
      .where(col("id") === 30L).collect()
    assert(resurrected.length === 1, "exactly one live row for 30")
    assert(cells(Similarity.ivfIndexRead(spark, dir))
      .exists(_._1 == 30L))
    // and a plain retry of the same batch appends nothing more
    Similarity.ivfIndexAppendIdempotent(
      spark, dir, df.where(col("vec_id") === 30L), "vec_id", "embedding")
    assert(Similarity.ivfIndexRead(spark, dir).assigned
      .where(col("id") === 30L).count() === 1)
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    graft.ext.Caches.release()
  }

  test("minhash index tombstone lifecycle: logical delete stops serving " +
    "immediately, compaction equals a fresh build on the live corpus") {
    import graft.util.Fs
    val corpusSide = corpus.where(col("doc_id") < 100)
    val batch = corpus.where(col("doc_id") >= 100)
    val dir = java.nio.file.Files.createTempDirectory("graft-mh-tomb").toString
    Dedup.minhashIndexWrite(corpusSide, "doc_id", "text", dir)
    def probe(d: String): Map[(Long, Long), Double] =
      Dedup.minhashProbeIndex(batch, "doc_id", "text", d, threshold = 0.5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toMap
    val before = probe(dir)
    assert(before.contains((100L, 0L)) && before.contains((206L, 6L)))
    // LOGICAL delete: sidecar only — victims stop surfacing at once
    val victims = Set(0L, 6L)
    Dedup.MinhashFamily.delete(
      dir, victims.toSeq.toDF("doc_id"), "doc_id")
    val logical = probe(dir)
    assert(logical.keys.forall { case (_, b) => !victims.contains(b) })
    // and nothing else changed: identical to a fresh index on the
    // survivors (no bucket in this corpus is near the cap, so the
    // stale-bucket_n conservatism cannot bite)
    val freshDir = java.nio.file.Files
      .createTempDirectory("graft-mh-fresh").toString
    Dedup.minhashIndexWrite(
      corpusSide.where(!col("doc_id").isin(victims.toSeq: _*)),
      "doc_id", "text", freshDir)
    assert(logical === probe(freshDir))
    // COMPACT: physical rewrite — sidecar cleared, tables equal the
    // fresh build's (postings/sizes/buckets incl. recounted bucket_n)
    Dedup.MinhashFamily.compact(spark, dir)
    assert(!graft.util.Manifest.tableExists(dir, "tombstones"))
    assert(probe(dir) === logical)
    def rows(d: String, t: String, cols: Seq[String]): Set[Seq[Any]] =
      spark.read.parquet(graft.util.Manifest.tablePath(d, t))
        .select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    for ((t, cs) <- Seq(
        "postings" -> Seq("id", "g"),
        "sizes" -> Seq("id", "n"),
        "buckets" -> Seq("id", "band", "bh", "bucket_n")))
      assert(rows(dir, t, cs) === rows(freshDir, t, cs), t)
    Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    Fs.deleteRecursively(java.nio.file.Paths.get(freshDir))
    graft.ext.Caches.release()
  }

  test("minhash index append: appended docs probe identically to a fresh " +
    "build; retry heals nothing twice; tombstoned re-ingest resurrects") {
    val corpusA = corpus.where(col("doc_id") < 10)
    val corpusB = corpus.where(col("doc_id") >= 10 && col("doc_id") < 100)
    val batch = corpus.where(col("doc_id") >= 100)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mh-append").toString
    val freshDir = java.nio.file.Files
      .createTempDirectory("graft-mh-appfresh").toString
    def probe(d: String): Map[(Long, Long), Double] =
      Dedup.minhashProbeIndex(batch, "doc_id", "text", d, threshold = 0.5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toMap
    def tableIds(d: String, t: String): Seq[Long] =
      spark.read.parquet(graft.util.Manifest.tablePath(d, t))
        .select(col("id").cast("long")).collect().map(_.getLong(0)).toSeq
    try {
      Dedup.minhashIndexWrite(corpusA, "doc_id", "text", dir)
      Dedup.minhashIndexAppend(corpusB, "doc_id", "text", dir)
      Dedup.minhashIndexWrite(
        corpus.where(col("doc_id") < 100), "doc_id", "text", freshDir)
      val want = probe(freshDir)
      assert(want.nonEmpty && want.contains((100L, 0L)))
      // membership + probe results equal a fresh build on the union
      // (stored bucket_n values may differ — append refreshes only its
      // own rows; the probe's per-bucket-max cap reads the same total)
      assert(probe(dir) === want)
      for (t <- Seq("postings", "sizes"))
        assert(tableIds(dir, t).sorted === tableIds(freshDir, t).sorted, t)
      // a re-delivered batch appends NOTHING to any table
      val counts = Seq("postings", "sizes", "buckets")
        .map(t => tableIds(dir, t).length)
      Dedup.minhashIndexAppend(corpusB, "doc_id", "text", dir)
      assert(Seq("postings", "sizes", "buckets")
        .map(t => tableIds(dir, t).length) === counts)
      // RESURRECTION: tombstone doc 0, then re-ingest it — pairs with
      // 0 disappear, then reappear; exactly one sizes row for 0
      Dedup.MinhashFamily.delete(dir, Seq(0L).toDF("doc_id"), "doc_id")
      assert(!probe(dir).keys.exists(_._2 == 0L))
      Dedup.minhashIndexAppend(
        corpus.where(col("doc_id") === 0L), "doc_id", "text", dir)
      assert(probe(dir) === want)
      assert(tableIds(dir, "sizes").count(_ == 0L) === 1)
    } finally {
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(freshDir))
    }
    graft.ext.Caches.release()
  }

  test("persisted IVF-PQ maintenance: frozen-model append is idempotent " +
    "and resurrecting; compact is partition-scoped on encoded AND base") {
    import scala.jdk.CollectionConverters._
    val dim = 16
    val vecs = (0 until 120).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i * 7.3 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.ivfPqBuild(
      df.where(col("vec_id") < 80), "vec_id", "embedding",
      k = 4, dim = Some(dim))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-maint").toString
    Similarity.ivfPqIndexWrite(idx, dir)
    Similarity.ivfPqIndexAppendIdempotent(
      spark, dir, df.where(col("vec_id") >= 80), "vec_id", "embedding")
    def ids(t: org.apache.spark.sql.DataFrame): Set[Long] =
      t.select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    val grown = Similarity.ivfPqIndexRead(spark, dir)
    assert(ids(grown.encoded) === (0L until 120L).toSet)
    assert(ids(grown.base) === (0L until 120L).toSet)
    // appended vectors SERVE: exact self-retrieval through the full
    // ADC + re-rank path (all 4 cells probed → coarse is exhaustive)
    val probe = Similarity.ivfPqTopK(
      grown, vecs(100)._2, k = 1, nProbe = 4).head()
    assert(probe.getLong(0) === 100L)
    // retry appends nothing (per-table dup gates)
    Similarity.ivfPqIndexAppendIdempotent(
      spark, dir, df.where(col("vec_id") >= 80), "vec_id", "embedding")
    val retried = Similarity.ivfPqIndexRead(spark, dir)
    assert(retried.encoded.count() === 120L)
    assert(retried.base.count() === 120L)
    // append ≡ rebuild-encode for the pre-append half: the appended
    // rows' codes land beside build rows whose codes are untouched
    val buildCodes = idx.encoded
      .select(col("id").cast("long"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val grownCodes = retried.encoded
      .select(col("id").cast("long"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    for ((id, c) <- buildCodes) assert(grownCodes(id) === c)
    // LOGICAL delete: both tables stop serving at once
    val victims = Seq(5L, 100L)
    Similarity.IvfPqFamily.delete(dir, victims.toDF("vec_id"), "vec_id")
    val afterDel = Similarity.ivfPqIndexRead(spark, dir)
    assert(ids(afterDel.encoded) === (0L until 120L).toSet -- victims)
    assert(ids(afterDel.base) === (0L until 120L).toSet -- victims)
    // PHYSICAL compact: partition-scoped on BOTH tables, sidecar
    // retired in the same flip
    def listing(table: String): Map[String, Set[String]] = {
      val root = java.nio.file.Paths.get(
        graft.util.Manifest.tablePath(dir, table))
      val walk = java.nio.file.Files.list(root)
      try walk.iterator().asScala
        .filter(_.getFileName.toString.startsWith("c="))
        .map { p =>
          val files = java.nio.file.Files.list(p)
          try p.getFileName.toString ->
            files.iterator().asScala.map(_.getFileName.toString)
              .filter(_.endsWith(".parquet")).toSet
          finally files.close()
        }.toMap
      finally walk.close()
    }
    val victimCells = spark.read
      .parquet(graft.util.Manifest.tablePath(dir, "encoded"))
      .where(col("id").isin(victims: _*))
      .select(col("c")).distinct().collect().map(_.getInt(0)).toSet
    val beforeE = listing("encoded"); val beforeB = listing("base")
    Similarity.IvfPqFamily.compact(spark, dir)
    assert(!graft.util.Manifest.tableExists(dir, "tombstones"))
    val afterE = listing("encoded"); val afterB = listing("base")
    for ((before, after) <- Seq((beforeE, afterE), (beforeB, afterB));
        (cdir, files) <- before) {
      val c = cdir.stripPrefix("c=").toInt
      if (victimCells.contains(c))
        assert(after(cdir) !== files, s"$cdir should have been rewritten")
      else
        assert(after(cdir) === files, s"$cdir must be untouched bytes")
    }
    val compacted = Similarity.ivfPqIndexRead(spark, dir)
    assert(ids(compacted.encoded) === (0L until 120L).toSet -- victims)
    assert(ids(compacted.base) === (0L until 120L).toSet -- victims)
    // RESURRECTION: tombstone then re-append — exactly one live row
    // in EACH table, sidecar entry gone
    Similarity.IvfPqFamily.delete(dir, Seq(42L).toDF("vec_id"), "vec_id")
    Similarity.ivfPqIndexAppendIdempotent(
      spark, dir, df.where(col("vec_id") === 42L), "vec_id", "embedding")
    val res = Similarity.ivfPqIndexRead(spark, dir)
    assert(res.encoded.where(col("id") === 42L).count() === 1L,
      "42 serves again (scrubbed out of the sidecar, one fresh row)")
    assert(res.base.where(col("id") === 42L).count() === 1L)
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    graft.ext.Caches.release()
  }

  test("persisted IVF index: centroids round-trip exactly, probe equals " +
    "in-memory, cell filter prunes partitions") {
    val dim = 16
    val vecs = (0 until 120).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i / 12 * 17.0 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val idx = graft.ext.Similarity.ivfBuild(
      df, "vec_id", "embedding", k = 8, dim = Some(dim))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    graft.ext.Similarity.ivfIndexWrite(idx, dir)
    val idx2 = graft.ext.Similarity.ivfIndexRead(spark, dir)
    assert(idx2.centroids === idx.centroids) // doubles round-trip parquet
    val q = vecs.head._2
    def top(i: graft.ext.Similarity.IvfIndex) =
      graft.ext.Similarity.ivfTopK(i, q, 8)
    assert(top(idx2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === top(idx).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // the persisted probe must reach the scan as a PARTITION filter
    val plan = top(idx2).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("c#"),
      plan.take(2000))
    // the BATCH probe too: the collected probed-cell set pushes a
    // literal isin ahead of the join, so the scan reads only the
    // probed cells' partition directories (static pruning — never the
    // whole index per batch)
    val batch = df.where(col("vec_id").isin(0L, 40L, 80L))
    val bdf = graft.ext.Similarity
      .ivfTopKBatch(idx2, batch, "vec_id", "embedding", k = 3, nProbe = 2)
    val bplan = bdf.queryExecution.executedPlan.toString
    val scanLine = bplan.linesIterator
      .find(l => l.contains("PartitionFilters") && !l.contains("PartitionFilters: []"))
      .getOrElse(fail(s"no non-empty PartitionFilters in:\n${bplan.take(4000)}"))
    assert(scanLine.contains("c#"), scanLine)
    // and it returns the same neighbors as the in-memory index
    assert(bdf.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      === graft.ext.Similarity
        .ivfTopKBatch(idx, batch, "vec_id", "embedding", k = 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted)
    graft.ext.Caches.release()
  }

  test("IVF index maintenance: frozen-centroid append equals one-shot " +
    "assignment, persisted append reads back identically, delete " +
    "promotes the next-best member") {
    val dim = 16
    val vecs = (0 until 120).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i / 12 * 17.0 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.ivfBuild(
      df.where(col("vec_id") < 80), "vec_id", "embedding",
      k = 8, dim = Some(dim))
    val grown = Similarity.ivfAppend(
      idx, df.where(col("vec_id") >= 80), "vec_id", "embedding")
    def cells(i: Similarity.IvfIndex): Set[(Long, Int)] =
      i.assigned.select(col("id").cast("long"), col("c"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // append-without-retrain ≡ assigning the full corpus in one shot
    // under the SAME centroids (the identical struct-max expression
    // runs over both halves)
    val oneShot = Similarity.IvfIndex(
      idx.centroids,
      Similarity.assignCells(
        df.select(col("vec_id").as("id"), col("embedding").as("v")),
        idx.centroids))
    assert(grown.centroids === idx.centroids)
    assert(cells(grown) === cells(oneShot))
    assert(cells(grown).size === 120)
    // persisted form: append lands in the same cell-partitioned layout
    // and reads back as the in-memory grown index
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfapp").toString
    Similarity.ivfIndexWrite(idx, dir)
    Similarity.ivfIndexAppendIdempotent(
      spark, dir, df.where(col("vec_id") >= 80), "vec_id", "embedding")
    val disk = Similarity.ivfIndexRead(spark, dir)
    assert(disk.centroids === grown.centroids)
    assert(cells(disk) === cells(grown))
    val batch = df.where(col("vec_id").isin(0L, 40L, 95L))
    def serve(i: Similarity.IvfIndex, k: Int) = Similarity
      .ivfTopKBatch(i, batch, "vec_id", "embedding", k = k, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, -t._3, t._2))
    assert(serve(disk, 4).toSeq === serve(grown, 4).toSeq)
    // a post-append vector is retrievable: 95's identical twins (the
    // fixture's i/12 grouping makes 84..95 one vector) are ALL in the
    // appended half, so its exact matches (cos_e6 = 10^6) can only be
    // served if appended vectors entered the cell lists
    assert(serve(grown, 4).exists { case (q, n, c) =>
      q == 95L && n >= 80L && c == 1000000L })
    // tombstone delete: the victim stops surfacing and the NEXT-BEST
    // member is promoted — pruned top-(k-1) per query = original top-k
    // minus the tombstones (same order), never a full-rank change
    val top4 = serve(grown, 4)
    val victims = top4.groupBy(_._1).map { case (_, rs) =>
      rs.maxBy(_._3)._2 // each query's best neighbor
    }.toSet
    val pruned = Similarity.ivfDelete(
      grown, victims.toSeq.toDF("vec_id"), "vec_id")
    val served = serve(pruned, 3)
    assert(served.forall { case (_, n, _) => !victims.contains(n) })
    // per query: the pruned top-3 starts with exactly the original
    // top-4 minus the tombstones (a query may lose >1 victim to its
    // top-4 — then the surviving prefix is shorter and the tail is
    // freshly promoted, which is the point)
    val servedByQ = served.groupBy(_._1)
    top4.filterNot { case (_, n, _) => victims.contains(n) }
      .groupBy(_._1).foreach { case (q, rs) =>
        val expectQ = rs.sortBy(t => (-t._3, t._2)).take(3).toSeq
        val servedQ = servedByQ(q).sortBy(t => (-t._3, t._2)).toSeq
        assert(servedQ.take(expectQ.size) === expectQ, s"query $q")
      }
    graft.ext.Caches.release()
  }

  test("semanticContamination flags planted twins with the right match, " +
    "ignores orthogonal vectors") {
    def axis(i: Int): Seq[Float] =
      Seq.tabulate(8)(j => if (j == i) 1f else 0f)
    val bench = Seq((0L, axis(0)), (1L, axis(1))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (100L, axis(0)), // exact twin of bench 0 -> flagged, match 0
      (101L, axis(1).zipWithIndex.map { case (v, j) => // near twin of bench 1
        v + (if (j == 2) 0.1f else 0f) }.toSeq),
      (102L, axis(3)), (103L, axis(4)) // orthogonal -> clean
    ).toDF("vec_id", "embedding")
    val out = graft.ext.Similarity
      .semanticContamination(corpus, bench, "vec_id", "embedding", 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(100L -> 0L, 101L -> 1L))
    // zero vectors make cosine NaN (0/0) — they must flag NOTHING, in
    // either role (Spark sorts NaN above every double; unguarded, one
    // zero benchmark vector would flag the whole corpus)
    val zero = Seq.fill(8)(0f).toSeq
    val withZeroCorpus = graft.ext.Similarity.semanticContamination(
      corpus.unionByName(Seq((999L, zero)).toDF("vec_id", "embedding")),
      bench, "vec_id", "embedding", 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(withZeroCorpus === Set(100L, 101L))
    val withZeroBench = graft.ext.Similarity.semanticContamination(
      corpus, bench.unionByName(Seq((9L, zero)).toDF("vec_id", "embedding")),
      "vec_id", "embedding", 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withZeroBench === Map(100L -> 0L, 101L -> 1L))
  }

  test("persisted IVF-PQ index: artifacts round-trip, probe equals in-memory") {
    val dim = 16
    val vecs = (0 until 120).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i / 12 * 17.0 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val idx = graft.ext.Similarity.ivfPqBuild(
      df, "vec_id", "embedding", k = 8, m = 4, pqK = 8, dim = Some(dim))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpqidx").toString
    graft.ext.Similarity.ivfPqIndexWrite(idx, dir)
    val idx2 = graft.ext.Similarity.ivfPqIndexRead(spark, dir)
    assert(idx2.centroids === idx.centroids)
    assert(idx2.codebooks === idx.codebooks)
    def top(i: graft.ext.Similarity.IvfPqIndex) =
      graft.ext.Similarity.ivfPqTopK(i, vecs.head._2, 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(idx2) === top(idx))
    spark.catalog.clearCache() // ivfPqBuild persists the residual frame
  }

  test("persisted minhash index: probe equals the inline against-corpus form") {
    val index = corpus.where(col("doc_id") < 100)
    val batch = corpus.where(col("doc_id") >= 100)
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx").toString
    Dedup.minhashIndexWrite(index, "doc_id", "text", dir)
    val probed = Dedup.minhashProbeIndex(batch, "doc_id", "text", dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val inline = Dedup.minhashPairsAgainstCorpus(
      batch, index, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(probed.nonEmpty)
    assert(probed === inline)
  }

  test("exact jaccard via shared-count equals array-intersect definition") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 0.3)
    val viaCounts = pairs.where(col("id_a") === 0 && col("id_b") === 100)
      .select("jaccard").head().getDouble(0)
    // independent computation with array semantics
    val sets = corpus
      .select(col("doc_id"), Dedup.shingleHashes(col("text")).as("sh"))
      .where(col("doc_id").isin(0, 100))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val expected = sets(0L).intersect(sets(100L)).size.toDouble /
      sets(0L).union(sets(100L)).size.toDouble
    assert(math.abs(viaCounts - expected) < 1e-4)
  }

  test("simhash: exact dups at distance 0; near-dups within 3") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    for (i <- 5 until 8)
      assert(pairs((i.toLong, 200L + i)) === 0, s"exact dup $i not at distance 0")
    // one changed word out of 30 → few flipped bits (not guaranteed ≤3
    // for every doc, but holds for this deterministic corpus)
    assert((0 until 5).count(i => pairs.contains((i.toLong, 100L + i))) >= 3)
  }

  test("ANN recall on planted clusters") {
    // 10 clusters x 8 members: center + small deterministic offsets
    val dim = 64
    val vecs = for {
      c <- 0 until 10
      m <- 0 until 8
    } yield {
      val v = Array.tabulate(dim) { i =>
        val center = math.sin(c * 17.0 + i).toFloat
        center + 0.05f * math.sin(m * 31.0 + i * 7.0).toFloat
      }
      ((c * 8 + m).toLong, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val query = vecs.head._2.map(_.toFloat)
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", query, 8)
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(df, "vec_id", "embedding", query, 8)
      .collect().map(_.getLong(0)).toSet
    // cluster members dominate both; ANN must recover most of exact
    assert(exact.count(_ < 8) >= 6)
    assert((exact intersect ann).size >= 6,
      s"ANN recall too low: ${(exact intersect ann).size}/8")

    // int8 coarse scan + exact re-rank: quantization error is ~1/254 per
    // element, so the coarse-50 pool virtually always contains the true
    // top-8 and the exact re-rank restores the precise order
    val quant = Similarity.quantizedTopK(df, "vec_id", "embedding", query, 8)
      .collect().map(_.getLong(0)).toSet
    assert((exact intersect quant).size >= 7,
      s"quantized recall too low: ${(exact intersect quant).size}/8")

    // PQ ADC scan + exact re-rank: codebooks trained on the corpus keep
    // the coarse shortlist honest; re-rank restores exact order
    val pq = Similarity.pqBuild(df, "vec_id", "embedding")
    val pqTop = Similarity.pqTopK(pq, query, 8)
      .collect().map(_.getLong(0)).toSet
    assert((exact intersect pqTop).size >= 6,
      s"PQ recall too low: ${(exact intersect pqTop).size}/8")
    // codes are within range and the encoding is total
    val codes = pq.encoded.collect()
    assert(codes.length == vecs.length)
    assert(codes.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 16)))
    // persistence round-trip: codebooks/codes/base/n all survive, and
    // the reloaded index answers identically (incl. the auto-shortlist
    // input n — no count() on the read path)
    val pqDir = java.nio.file.Files.createTempDirectory("graft-pq-idx")
    try {
      Similarity.pqIndexWrite(pq, pqDir.toString)
      val back = Similarity.pqIndexRead(spark, pqDir.toString)
      assert(back.codebooks === pq.codebooks)
      assert(back.n === pq.n && back.n === vecs.length.toLong)
      val backTop = Similarity.pqTopK(back, query, 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val origTop = Similarity.pqTopK(pq, query, 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(backTop === origTop)
    } finally graft.util.Fs.deleteRecursively(pqDir)

    // IVF-PQ composite (coarse cells + residual PQ + per-cell ADC):
    // residual quantization is strictly tighter than raw PQ at the same
    // budget, and probing covers the query's cluster — recall holds
    val ivfpq = Similarity.ivfPqBuild(df, "vec_id", "embedding",
      dim = Some(dim))
    val ivfpqTop = Similarity.ivfPqTopK(ivfpq, query, 8)
      .collect().map(_.getLong(0)).toSet
    assert((exact intersect ivfpqTop).size >= 6,
      s"IVF-PQ recall too low: ${(exact intersect ivfpqTop).size}/8")
    // every vector is encoded exactly once with a valid cell + codes
    // (columns are the documented (id, c, codes) order)
    val enc = ivfpq.encoded.collect()
    assert(enc.length == vecs.length)
    assert(enc.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 16))
    assert(enc.forall(_.getSeq[Int](2).forall(c => c >= 0 && c < 16)))

    // fail-fast guards: ragged dims, null elements, mismatched query
    val ragged = df.limit(2).select(col("vec_id"),
      when(col("vec_id") === 0L, slice(col("embedding"), 1, 32))
        .otherwise(col("embedding")).as("embedding"))
    assertThrows[IllegalArgumentException] {
      Similarity.pqBuild(ragged, "vec_id", "embedding")
    }
    val withNullElem = df.limit(2).select(col("vec_id"),
      transform(col("embedding"),
        (x, i) => when(col("vec_id") === 0L && i === 0, lit(null))
          .otherwise(x)).as("embedding"))
    assertThrows[IllegalArgumentException] {
      Similarity.pqBuild(withNullElem, "vec_id", "embedding")
    }
    assertThrows[IllegalArgumentException] {
      Similarity.pqTopK(pq, query.take(32), 8)
    }
  }

  test("fuzzyPairs: planted edits within maxDist found at exact distance; cap trades recall") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val docs = Seq(
      (1L, base),
      (2L, base),                                  // exact dup → dist 0
      (3L, base.replace("quick", "quicc")),        // 1 substitution
      (4L, base.replace("brown ", "")),            // 6 deletions → beyond maxDist 3
      (5L, "a completely different sentence about databases and shuffles"),
      (6L, "THE  Quick   brown fox jumps over the lazy dog and runs far away home") // normalization collapses
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.get((1L, 2L)) === Some(0L))
    assert(got.get((1L, 3L)) === Some(1L))
    assert(got.get((2L, 3L)) === Some(1L))
    assert(got.get((1L, 6L)) === Some(0L))   // case/whitespace normalized away
    assert(!got.keySet.exists(p => p._1 == 5L || p._2 == 5L))
    assert(!got.contains((1L, 4L)))          // 6 edits > maxDist
    // skew-guard path: a tiny postings cap may only SHRINK the pair set
    val capped = Dedup.fuzzyPairs(docs, "doc_id", "text", maxDist = 3,
      maxPostings = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(got.keySet))
  }

  test("fuzzyPairs property: random <=maxDist edits are ALWAYS found " +
    "at the exact distance (prefix-filter losslessness)") {
    import org.scalacheck.Gen
    // random word-ish base strings long enough for the lossless bound
    // (len >= q*(d+1) = 32 at q=8, d=3), random edit scripts of 1..3
    // character substitutions/inserts/deletes applied to a copy
    val genCase: Gen[(String, Int, Seq[Int])] = for {
      len <- Gen.choose(40, 60)
      chars <- Gen.listOfN(len, Gen.oneOf(('a' to 'f') ++ Seq(' ')))
      nEdits <- Gen.choose(1, 3)
      seeds <- Gen.listOfN(nEdits * 3, Gen.choose(0, 1000))
    } yield (chars.mkString, nEdits, seeds)
    PropertySampling.forAllSeeded(genCase, n = 25) {
      case (base0, nEdits, seeds) =>
        // normalization is part of the operator: feed pre-normalized
        // text (lowercase, single spaces) so edits stay edits
        val base = base0.replaceAll(" +", " ").trim
        if (base.length >= 32) {
          var edited = base
          var applied = 0
          seeds.grouped(3).take(nEdits).foreach { case Seq(op, p, c) =>
            val pos = p % math.max(edited.length, 1)
            val ch = ('a' + c % 6).toChar
            op % 3 match {
              case 0 => // substitute
                edited = edited.updated(pos, ch); applied += 1
              case 1 => // insert
                edited = edited.substring(0, pos) + ch +
                  edited.substring(pos); applied += 1
              case 2 if edited.length > 32 => // delete
                edited = edited.substring(0, pos) +
                  edited.substring(pos + 1); applied += 1
              case _ => ()
            }
          }
          val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
          val got = Dedup.fuzzyPairs(docs, "doc_id", "text", maxDist = 3)
            .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
            .toMap
          // true distance ≤ applied edits (edits can cancel); compute
          // the reference distance on the operator's normalized heads
          def head(s: String) = s.toLowerCase.replaceAll("\\s+", " ")
            .trim.take(64)
          val (ha, hb) = (head(base), head(edited))
          val ref = {
            val dp = Array.tabulate(ha.length + 1, hb.length + 1) {
              (i, j) => if (i == 0) j else if (j == 0) i else 0 }
            for (i <- 1 to ha.length; j <- 1 to hb.length)
              dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
                dp(i - 1)(j - 1) + (if (ha(i - 1) == hb(j - 1)) 0 else 1))
            dp(ha.length)(hb.length)
          }
          if (ref > 0 && ref <= 3)
            assert(got.get((1L, 2L)) === Some(ref.toLong),
              s"base='$base' edited='$edited' ref=$ref got=$got")
          else if (ref == 0)
            assert(got.get((1L, 2L)) === Some(0L))
        }
    }
  }

  test("knnJoin equals per-query brute-force cosineTopK") {
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 80).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").repartition(7) // force multi-partition phase-1
    val queries = vecs.where(col("vec_id") < 4)
    val corpus = vecs.where(col("vec_id") >= 4)
    val got = Similarity.knnJoin(queries, corpus, "vec_id", "embedding", k = 5)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    val qvecs = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    for ((qid, qv) <- qvecs) {
      val want = Similarity.cosineTopK(corpus, "vec_id", "embedding", qv, 5)
        .collect()
        .map(r => (r.getLong(0),
          math.round(r.getDouble(1) * 1e6))).toSet
      assert(got(qid) === want, s"query $qid")
    }
  }

  test("matryoshkaTopK with candidates=N equals exact cosineTopK; " +
    "prefix stage bounds the re-rank set") {
    val rnd = new scala.util.Random(31)
    // MRL-ish vectors: heavy info in the first 8 dims, light tail —
    // the prefix scan should rank close to the full-dim order
    val vecs = (0 until 120).map { i =>
      val head = Seq.fill(8)(rnd.nextGaussian().toFloat * 4)
      val tail = Seq.fill(24)(rnd.nextGaussian().toFloat * 0.3f)
      (i.toLong, head ++ tail)
    }.toDF("vec_id", "embedding").repartition(5)
    val q = vecs.where(col("vec_id") === 0)
      .collect().head.getSeq[Float](1)
    // candidates = corpus size → identical to exact brute force
    val all = Similarity
      .matryoshkaTopK(vecs, "vec_id", "embedding", q,
        prefixDims = 8, candidates = 120, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = Similarity.cosineTopK(vecs, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(all.toSeq === exact.toSeq)
    // tight candidate budget on MRL-shaped data: high recall vs exact
    val narrow = Similarity
      .matryoshkaTopK(vecs, "vec_id", "embedding", q,
        prefixDims = 8, candidates = 25, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.map(_._1).count(narrow.contains)
    assert(recall >= 8, s"recall $recall/10 too low")
  }

  test("assignCells: inline expression tree and broadcast-join path " +
    "produce identical assignments (tie to the higher index)") {
    val rnd = new scala.util.Random(47)
    val base = (0 until 60).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("id", "v")
    val cents = Seq.fill(12)(Seq.fill(16)(rnd.nextGaussian()))
    val inline = Similarity.assignCells(base, cents, inlineLimit = 32)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("c")).toMap
    val joined = Similarity.assignCells(base, cents, inlineLimit = 1)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("c")).toMap
    assert(inline === joined)
  }

  test("semDedup: planted twins collapse to one survivor per base, " +
    "distinct bases survive; oversized cells drop") {
    val dim = 64
    // 6 block-orthogonal bases (base c in coords [10c, 10c+9]); three
    // get a near-identical twin (cos ~0.999). SemDeDup must keep one
    // member per twin pair and every distinct base.
    def mk(c: Int, eps: Double): Seq[Float] =
      Seq.tabulate(dim)(i =>
        if (i >= 10 * c && i < 10 * c + 10) (1.0 + (if (i == 10 * c) eps else 0)).toFloat
        else 0f)
    val rows =
      (0 until 6).map(c => (c.toLong, mk(c, 0))) ++
        (0 until 3).map(c => (100L + c, mk(c, 0.01)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Dedup.semDedup(
      df, "vec_id", "embedding", lit(1L), threshold = 0.9,
      k = 4, dim = Some(dim))
      .collect().map(r => r.getAs[Long]("keep_id")).toSet
    assert(out.size === 6, s"got $out") // one survivor per base
    // twins 0..2 collapsed: exactly one of {c, 100+c} survives
    (0 until 3).foreach { c =>
      assert(out.contains(c.toLong) ^ out.contains(100L + c),
        s"base $c: $out")
    }
    // maxCell = 0 excludes every cell -> no pairs -> all singletons,
    // and the exclusion is SURFACED: cell_capped = 1 on every row (the
    // excluded fraction a production run must alert on), never silent
    val loose = Dedup.semDedup(
      df, "vec_id", "embedding", lit(1L), threshold = 0.9,
      k = 4, maxCell = 0, dim = Some(dim))
      .collect()
    assert(loose.length === rows.size)
    assert(loose.forall(_.getAs[Long]("cell_capped") == 1L))
    // the healthy run flags nothing
    val healthy = Dedup.semDedup(
      df, "vec_id", "embedding", lit(1L), threshold = 0.9,
      k = 4, dim = Some(dim)).collect()
    assert(healthy.forall(_.getAs[Long]("cell_capped") == 0L))
  }

  test("assignCellsRouted: inline when-chain and double-broadcast-join " +
    "paths agree, and routing matches flat assignment on separated data") {
    val dim = 16
    val rnd = new scala.util.Random(53)
    // 4 well-separated block bases + noise: routing must not change
    // the assignment flat argmax gives on separated data
    val base = (0 until 80).map { i =>
      val c = i % 4
      val v = Seq.tabulate(dim)(j =>
        (if (j / 4 == c) 1.0 + 0.05 * rnd.nextGaussian()
         else 0.02 * rnd.nextGaussian()).toFloat)
      (i.toLong, v)
    }.toDF("id", "v")
    val cents = (0 until 8).map { c =>
      Seq.tabulate(dim)(j =>
        if (j / 4 == c % 4) 1.0 + 0.001 * c else 0.001 * c)
    }
    val (supers, groupOf) = Similarity.metaCentroids(cents, r = 3)
    assert(groupOf.size === cents.size) // every centroid mapped
    val inline = Similarity
      .assignCellsRouted(base, cents, supers, groupOf, inlineLimit = 32)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("c")).toMap
    val joined = Similarity
      .assignCellsRouted(base, cents, supers, groupOf, inlineLimit = 1)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("c")).toMap
    assert(inline === joined)
    // routed assignment lands in the routed group on every row
    inline.values.foreach(c => assert(groupOf.indices.contains(c)))
    // metaCentroids is deterministic (pure driver math, fixed seed)
    val (s2, g2) = Similarity.metaCentroids(cents, r = 3)
    assert(s2 === supers && g2 === groupOf)
  }

  test("assignCellsRouted probes=2: recovers the flat assignment a " +
    "single-probe boundary misroute loses, on both physical paths") {
    // hand-built two-group geometry: v routes to super s0 (v·s0 >
    // v·s1) but its TRUE nearest centroid c1 lives in group 1 —
    // single-probe must misassign to c0, two-probe must recover c1.
    // (This is exactly the boundary-miss mechanism behind the r11
    // skew row: max cell 4,113 routed vs 600 flat at k=1562.)
    val supers = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val cents = Seq(Seq(0.5, 0.2), Seq(0.55, 0.75))
    val groupOf = Seq(0, 1) // c0·s0 > c0·s1; c1·s1 > c1·s0
    val base = Seq((1L, Seq(0.7f, 0.65f))).toDF("id", "v")
    // sanity on the fixture: the route is g0, the flat argmax is c1
    // (v·c0 = 0.48 < v·c1 = 0.8725)
    for (limit <- Seq(32, 1)) { // inline vs double-broadcast-join path
      val one = Similarity
        .assignCellsRouted(base, cents, supers, groupOf,
          inlineLimit = limit, probes = 1)
        .head().getAs[Int]("c")
      val two = Similarity
        .assignCellsRouted(base, cents, supers, groupOf,
          inlineLimit = limit, probes = 2)
        .head().getAs[Int]("c")
      assert(one === 0, s"limit=$limit: single-probe should misroute to c0")
      assert(two === 1, s"limit=$limit: two-probe should recover flat c1")
    }
    // inline and join paths agree at probes=2 on bulk data too (the
    // probes=1 agreement is pinned by the test above)
    val dim = 16
    val rnd = new scala.util.Random(54)
    val bulk = (0 until 80).map { i =>
      (i.toLong, Seq.tabulate(dim)(j =>
        (if (j / 4 == i % 4) 1.0 + 0.05 * rnd.nextGaussian()
         else 0.1 * rnd.nextGaussian()).toFloat))
    }.toDF("id", "v")
    val cents8 = (0 until 8).map { c =>
      Seq.tabulate(dim)(j =>
        if (j / 4 == c % 4) 1.0 + 0.001 * c else 0.001 * c)
    }
    val (sup8, grp8) = Similarity.metaCentroids(cents8, r = 3)
    val inl = Similarity
      .assignCellsRouted(bulk, cents8, sup8, grp8,
        inlineLimit = 32, probes = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("c")).toMap
    val jnd = Similarity
      .assignCellsRouted(bulk, cents8, sup8, grp8,
        inlineLimit = 1, probes = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("c")).toMap
    assert(inl === jnd)
  }

  test("cosineNearDupPairs finds planted high-cosine pairs, skips unrelated") {
    val dim = 64
    // 6 base vectors far apart; for 3 of them plant a near-identical
    // twin (tiny perturbation -> cosine ~0.999); twins must be found,
    // cross-base pairs must not appear at a 0.9 threshold
    // block-orthogonal bases: base c lives in coordinates [10c, 10c+9],
    // so cross-base cosine is exactly 0
    val base = (0 until 6).map { c =>
      Array.tabulate(dim)(i =>
        if (i >= c * 10 && i < c * 10 + 10)
          (1.0 + 0.1 * math.sin(i.toDouble)).toFloat
        else 0f)
    }
    val vecs =
      base.zipWithIndex.map { case (v, c) => (c.toLong, v.toSeq) } ++
        (0 until 3).map { c =>
          val twin = base(c).zipWithIndex
            .map { case (x, i) => x + 0.001f * math.sin(i.toDouble).toFloat }
          ((100 + c).toLong, twin.toSeq)
        }
    val df = vecs.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(
      df, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (c <- 0 until 3)
      assert(pairs.contains((c.toLong, (100 + c).toLong)), s"missed twin $c")
    // nothing across distinct bases
    assert(pairs.forall { case (a, b) => b - a == 100 }, pairs.toString)

    // the full embedding-dedup composition: twins collapse to one
    // survivor per cluster, loners stay
    val kept = Dedup.dedupCorpusByCosine(
      df, "vec_id", "embedding", lit(0L), threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(kept.size === 6) // 3 twin clusters + 3 singleton bases
    for (c <- 0 until 3) assert(kept(c.toLong) === 2L, s"cluster $c size")
    for (c <- 3 until 6) assert(kept(c.toLong) === 1L, s"singleton $c")
  }

  test("cosineNearDupPairs: geometry derives from corpus size, buckets capped") {
    // derived planes pin the AVERAGE bucket at ~targetBucket vectors
    // regardless of corpus size — candidates grow ~n·targetBucket, not
    // Θ(n²/2^p). Spot values across the range plus both clamps.
    assert(Similarity.derivePlanesPerBand(500) === 3) // sf0.01 corpus
    assert(Similarity.derivePlanesPerBand(2000) === 5) // sf0.1 corpus
    assert(Similarity.derivePlanesPerBand(50) === 1) // tiny floor
    assert(Similarity.derivePlanesPerBand(0) === 1)
    assert(Similarity.derivePlanesPerBand(1L << 40) === 24) // upper clamp
    // monotone: more vectors never means fewer buckets
    val ns = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
    assert(ns.map(Similarity.derivePlanesPerBand(_)) ===
      ns.map(Similarity.derivePlanesPerBand(_)).sorted)

    // skew cap: 10 identical vectors share every band bucket (signature
    // is a pure function of the vector). Uncapped, all 45 pairs verify
    // at cosine 1; with maxBucket=5 each bucket (size 10) is dropped
    // before the self-join — zero candidates, bounded reducer work.
    val tens = (0L until 10L).map(i => (i, Seq.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.cosineNearDupPairs(tens, "vec_id", "embedding", 0.9)
      .count() === 45)
    assert(Similarity.cosineNearDupPairs(tens, "vec_id", "embedding", 0.9,
      maxBucket = 5).count() === 0)
    spark.catalog.clearCache()
  }

  test("multimodal plumbing: decode + features + frames deterministic") {
    val docs = graft.query.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpus = Multimodal.corpusFromDocuments(spark, docs)
    val meta = Multimodal.decode(corpus).cache()
    assert(meta.count() === docs.count())
    assert(meta.filter(m => m.media_type == "image" && m.n_frames != 1).count() === 0)
    assert(meta.filter(m => m.media_type == "audio" && m.sample_rate != 16000).count() === 0)
    // deterministic across runs
    val f1 = Multimodal.extractFeatures(corpus, 16).collect()
      .map(f => f.media_id -> f.feature.toSeq).toMap
    val f2 = Multimodal.extractFeatures(corpus, 16).collect()
      .map(f => f.media_id -> f.feature.toSeq).toMap
    assert(f1 === f2)
    val frames = Multimodal.sampleFrames(corpus, 4)
    assert(frames.groupBy("media_id").count()
      .agg(max("count")).head().getLong(0) <= 4)
  }

  test("m3/m4 oracle precondition: documents.text is pure ASCII " +
    "(byte slices replay as DuckDB substr/strlen)") {
    // The m3/m4 DuckDB oracles replay the engine's BYTE slicing with
    // CHARACTER-based substr/strlen; that equivalence holds iff text
    // is single-byte (octet_length == char_length on every row). A
    // fixture regen that introduces multi-byte UTF-8 must fail HERE
    // with a clear message, not as an opaque m3/m4 hash mismatch.
    for (sf <- Seq("sf0.001", "sf0.01")
         if new java.io.File(s"/root/testdata/$sf/documents.parquet").exists) {
      val nonAscii = graft.query.Tables.load(spark, s"/root/testdata/$sf", "documents")
        .where(expr("octet_length(text) <> char_length(text)"))
        .count()
      assert(nonAscii === 0L,
        s"documents.text in $sf contains $nonAscii non-ASCII rows; " +
          "the m3/m4 oracles' substr/strlen replay of byte slicing is " +
          "no longer valid — rewrite them on BLOB-cast byte slices")
    }
  }

  test("phashNearDupPairs: lossless to Hamming 3 on crafted hashes, " +
    "bucket cap drops degenerate buckets") {
    // crafted 64-bit hashes: base, base+2 flipped bits (found), base
    // with 4 flipped bits spread over all 4 bands (correctly excluded:
    // distance 4 > radius), and a far hash (excluded)
    val base = 0x0123456789ABCDEFL
    val twoBits = base ^ (1L << 5) ^ (1L << 40)
    val fourSpread = base ^ (1L << 3) ^ (1L << 19) ^ (1L << 35) ^ (1L << 51)
    val far = ~base
    val hashes = Seq(
      (1L, base), (2L, twoBits), (3L, fourSpread), (4L, far))
      .toDF("media_id", "phash")
    val got = Multimodal.phashNearDupPairs(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L, 2L)))
    // duplicate payloads through the full codec path → Hamming-0 pair
    val media = Seq(
      Multimodal.MediaRow(10L, "image", "same bytes".getBytes, "png"),
      Multimodal.MediaRow(11L, "image", "same bytes".getBytes, "png"),
      Multimodal.MediaRow(12L, "image", "other bytes".getBytes, "png"))
      .toDS()
    val pairs = Multimodal
      .phashNearDupPairs(Multimodal.perceptualHashes(media))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 10L && p._2 == 11L && p._3 == 0L))
    // a degenerate bucket (all-equal hashes beyond the cap) is dropped
    // instead of exploding quadratically
    val flood = (0 until 50).map(i => (i.toLong, 0L)).toDF("media_id", "phash")
    val cappedOut = Multimodal
      .phashNearDupPairs(flood, maxBucket = 10)
    assert(cappedOut.count() === 0L)
  }

  test("hardNegatives: k best AMONG different-label vectors (null-safe), " +
    "equals the label-filtered brute force") {
    // 3 labeled clusters on orthogonal axes + deterministic jitter,
    // plus two UNLABELED rows near the cluster-0 axis: null vs 'x' is
    // a mismatch (they must surface as negatives), null vs null is not
    val rows = (0 until 30).map { i =>
      val lab = i % 3
      val v = Array.tabulate(8)(d => 0.01f * ((i * 7 + d * 3) % 5))
      v(lab) = 1.0f
      (i.toLong, v, Option(lab))
    } ++ Seq(30L, 31L).map { i =>
      val v = Array.tabulate(8)(d => 0.02f * ((i + d) % 3).toInt)
      v(0) = 0.99f
      (i, v, Option.empty[Int])
    }
    val vecs = rows.toDF("vec_id", "embedding", "label")
    val queries = vecs.where(col("vec_id") < 3 || col("vec_id") === 30)
    val got = graft.ext.Similarity
      .hardNegatives(queries, vecs, "vec_id", "embedding", "label", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val labels = rows.map(r => r._1 -> r._3).toMap
    assert(got.size === 16) // 4 queries x exactly k rows
    got.foreach { case (q, n) =>
      assert(labels(q) !== labels(n), s"same-label neighbor $n for $q") }
    // the unlabeled rows rank as negatives for the labeled axis-0 query
    assert(got.exists { case (q, n) => q == 0L && n >= 30L },
      "null-labeled corpus rows must be minable negatives")
    // brute force: cosine over the label-mismatched pairs, top-4
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expected = (for {
      q <- rows.filter(r => r._1 < 3 || r._1 == 30L)
      bf = rows.filter(_._3 != q._3)
        .map(c => (c._1, cos(q._2, c._2)))
        .sortBy { case (id, s) => (-s, id) }
        .take(4).map(_._1)
      n <- bf
    } yield (q._1, n)).toSet
    assert(got === expected)
  }

  test("persisted bloom screen: write/read round-trip probes equal the " +
    "inline form") {
    val eval = corpus.where(col("doc_id") < 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomscr").toString
    Dedup.bloomScreenWrite(Dedup.bloomScreenBuild(eval, "text"), dir)
    val probed = Dedup
      .bloomProbe(corpus, "doc_id", "text", Dedup.bloomScreenRead(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val inline = Dedup.bloomDecontam(corpus, "doc_id", "text", eval, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(probed.nonEmpty)
    assert(probed === inline)
    spark.catalog.clearCache()
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("bloom decontam equals the exact shingle semi-join at any fpp") {
    val eval = corpus.where(col("doc_id") < 3)
    // ground truth: the plain (unprefiltered) exact semi-join + count
    val evalShingles = eval
      .select(explode(Dedup.shingleHashes(col("text"))).as("g")).distinct()
    val exact = corpus
      .select(col("doc_id"), explode(Dedup.shingleHashes(col("text"))).as("g"))
      .join(evalShingles, Seq("g"), "left_semi")
      .groupBy("doc_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the base docs are Caesar-shifted token sequences (pairwise
    // disjoint vocab positions), so only the eval docs and their
    // planted near-dups share shingles — the screen is selective
    assert(exact.keySet === Set(0L, 1L, 2L, 100L, 101L, 102L))
    // fpp = 0.5 floods the probe with false positives; the broadcast
    // verify must kill every one of them (bloom is correctness-
    // transparent in both directions)
    for (fpp <- Seq(0.5, 0.01)) {
      val got = Dedup
        .bloomDecontam(corpus, "doc_id", "text", eval, "text", fpp = fpp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === exact, s"fpp=$fpp")
    }
    spark.catalog.clearCache()
  }

  test("noveltyProfile: first occurrence scores full, exact dup zero, " +
    "partial overlap the exact integer ratio") {
    val docs = Seq(
      (1L, "a b c d e"),        // abc bcd cde — all first
      (2L, "a b c d e"),        // exact dup → novelty 0
      (3L, "a b c x y z")       // abc seen; bcx cxy xyz new → 3/4
    ).toDF("doc_id", "text")
    val got = Dedup.noveltyProfile(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === ((3L, 3L, 10000L)))
    assert(got(2L) === ((3L, 0L, 0L)))
    assert(got(3L) === ((4L, 3L, 7500L)))
    spark.catalog.clearCache()
  }

  test("labelNoiseScreen: planted mislabel maxes disagreement, clean " +
    "members near zero, ties break by id") {
    // cluster A at (1,0,0,0): ids 1-6, id 2 MISLABELED as 2; cluster B
    // at (0,1,0,0): ids 10-13 labeled 2. k=4 with exact cosine ties →
    // neighbors are the 4 lowest other ids in-cluster (B pads with A's
    // id 1 across clusters)
    val a = (1L to 6L).map(i =>
      (i, Seq(1.0f, 0.0f, 0.0f, 0.0f), if (i == 2L) 2 else 1))
    val b = (10L to 13L).map(i => (i, Seq(0.0f, 1.0f, 0.0f, 0.0f), 2))
    val vecs = (a ++ b).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelNoiseScreen(
      vecs, "vec_id", "embedding", "label", k = 4)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // the mislabel: all 4 neighbors disagree → 10000 e4
    assert(got(2L) === ((2L, 4L, 4L, 10000L)))
    // clean A members: exactly the mislabeled neighbor disagrees
    for (i <- Seq(1L, 3L, 4L, 5L, 6L))
      assert(got(i) === ((1L, 4L, 1L, 2500L)), s"id=$i")
    // B members: 3 in-cluster agreements + A's id 1 across the gap
    for (i <- 10L to 13L) assert(got(i) === ((2L, 4L, 1L, 2500L)), s"id=$i")
    // denominator is the ACTUAL neighbor count: a 3-vector corpus at
    // k=10 has 2 neighbors each — the lone disagreeing pair must read
    // as a 50% fraction, not 2/10ths
    val tiny = Seq(
      (1L, Seq(1.0f, 0.0f), 1), (2L, Seq(1.0f, 0.01f), 1),
      (3L, Seq(1.0f, 0.02f), 2)).toDF("vec_id", "embedding", "label")
    val tg = Similarity.labelNoiseScreen(
      tiny, "vec_id", "embedding", "label", k = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(tg(1L) === ((2L, 1L, 5000L)))
    assert(tg(3L) === ((2L, 2L, 10000L)))
    spark.catalog.clearCache()
  }

  test("round-9 operators tolerate empty and too-short inputs (no " +
    "crash, empty or identity results)") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactSubstrSpans(noDocs, "doc_id", "text").count() === 0L)
    assert(Dedup.exactSubstrDedup(noDocs, "doc_id", "text").count() === 0L)
    assert(Dedup
      .exactSubstrDedupKeepFirst(noDocs, "doc_id", "text").count() === 0L)
    // below-minLen documents produce no grams: no spans, and the cut
    // transform returns them INTACT (kept = token count, removed = 0)
    val short = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    assert(Dedup
      .exactSubstrSpans(short, "doc_id", "text", minLen = 10).count() === 0L)
    val cut = Dedup
      .exactSubstrDedup(short, "doc_id", "text", minLen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(cut === Set((1L, 3L, 0L), (2L, 3L, 0L)))

    val noVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.knnJoin(
      noVecs, noVecs, "vec_id", "embedding", k = 3).count() === 0L)
    val idx = Similarity.signBandIndexBuild(
      noVecs, "vec_id", "embedding", dim = 4)
    assert(Similarity.annTopKIndexed(
      idx, Seq(1.0f, 0.0f, 0.0f, 0.0f), k = 3).count() === 0L)
    assert(Similarity.mmrTopK(
      noVecs, "vec_id", "embedding", Seq(1.0f, 0.0f, 0.0f, 0.0f),
      candidates = 5, k = 3).count() === 0L)
    assert(graft.ext.Curation.qualityFlags(noDocs, "doc_id", "text")
      .where(graft.ext.Curation.qualityPass).count() === 0L)
    spark.catalog.clearCache()
  }

  test("sign-band index probe is LOSSLESS vs the flat annTopK scan " +
    "(pigeonhole), survives a write/read round-trip, rejects " +
    "over-probe") {
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 400L).map { i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val query = vecs(7)._2.map(x => x + 0.01f)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // identical RESULT (ids AND scores, in order) to the flat scan at
    // the index's nPlanes — candidates match exactly by pigeonhole
    val flat = rows(Similarity.annTopK(
      df, "vec_id", "embedding", query, k = 10, nPlanes = 30, probe = 4))
    val idx = Similarity.signBandIndexBuild(
      df, "vec_id", "embedding", dim = 16)
    assert(rows(Similarity.annTopKIndexed(idx, query, k = 10)) === flat)
    // round-trip through the (band, bucket)-partitioned layout
    val dir = java.nio.file.Files.createTempDirectory("graft-sbi-spec")
    try {
      Similarity.signBandIndexWrite(idx, dir.toString)
      val back = Similarity.signBandIndexRead(spark, dir.toString)
      assert(back.nPlanes === 30 && back.chunks === 5 && back.dim === 16)
      assert(rows(Similarity.annTopKIndexed(back, query, k = 10)) === flat)
      // smaller probe radii stay lossless too (probe <= chunks-1)
      for (p <- Seq(0, 2)) {
        val f = rows(Similarity.annTopK(
          df, "vec_id", "embedding", query, k = 10, nPlanes = 30, probe = p))
        assert(rows(Similarity.annTopKIndexed(back, query, k = 10,
          probe = p)) === f, s"probe=$p")
      }
    } finally graft.util.Fs.deleteRecursively(dir)
    // beyond the pigeonhole bound the equality argument breaks: reject
    intercept[IllegalArgumentException] {
      Similarity.annTopKIndexed(idx, query, k = 10, probe = 5)
    }
    spark.catalog.clearCache()
  }

  test("exactSubstrSpans: precise boundaries for planted repeats, " +
    "within-doc multiplicity, immunity to shingle-common text") {
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val run = words("dup", 12).mkString(" ") // the planted 12-token repeat
    val docs = Seq(
      // repeat embedded mid-document at position 3
      (1L, (words("a", 3) :+ run).mkString(" ") + " " +
        words("b", 5).mkString(" ")),
      // same repeat at position 0, different surroundings
      (2L, run + " " + words("c", 7).mkString(" ")),
      // within-ONE-doc repeat of a different 10-token run at 2 and 20
      (3L, (words("x", 2) ++ words("w", 10) ++ words("y", 8) ++
        words("w", 10) ++ words("z", 3)).mkString(" ")),
      // shares a 9-token run with doc 5 — BELOW minLen, must not flag
      (4L, (words("common", 9) ++ words("p", 6)).mkString(" ")),
      (5L, (words("q", 6) ++ words("common", 9)).mkString(" ")))
      .toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set(
      (1L, 3L, 12L),   // exact start and length, not gram-smeared
      (2L, 0L, 12L),
      (3L, 2L, 10L), (3L, 20L, 10L))) // both within-doc occurrences
    // the 9-token shared run is invisible at minLen=10 — but the
    // n-gram profile at n=8 DOES see it (the d12 over-flagging this
    // operator exists to avoid)
    val profile = Dedup.dupSpanProfile(docs, "doc_id", "text", n = 8)
      .where(col("n_dup_spans") > 0)
      .collect().map(_.getLong(0)).toSet
    assert(Set(4L, 5L).subsetOf(profile))
    spark.catalog.clearCache()
  }

  test("exactSubstrSpans merges overlapping windows into one maximal " +
    "span; exactSubstrDedup cuts exactly the span tokens") {
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val long = words("m", 25) // 25-token duplicated run
    val head6 = words("h", 6)
    val tail4 = words("t", 4)
    val docs = Seq(
      (1L, (head6 ++ long ++ tail4).mkString(" ")),
      (2L, (words("u", 2) ++ long).mkString(" ")))
      .toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // all 16 overlapping 10-gram windows union to ONE maximal span
    assert(spans === Set((1L, 6L, 25L), (2L, 2L, 25L)))

    val got = Dedup.exactSubstrDedup(docs, "doc_id", "text", minLen = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // doc 1 keeps exactly its unique head+tail, boundaries untouched
    assert(got(1L) ===
      ((md5hex((head6 ++ tail4).mkString(" ")), 10L, 25L)))
    assert(got(2L) === ((md5hex(words("u", 2).mkString(" ")), 2L, 25L)))

    // keep-FIRST: doc 1 (the corpus-minimum occurrence) survives
    // INTACT; only doc 2's copy is cut, at the same exact boundaries
    val kf = Dedup
      .exactSubstrDedupKeepFirst(docs, "doc_id", "text", minLen = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(kf(1L) ===
      ((md5hex((head6 ++ long ++ tail4).mkString(" ")), 35L, 0L)))
    assert(kf(2L) === ((md5hex(words("u", 2).mkString(" ")), 2L, 25L)))
    // within-document repeat: the EARLIER occurrence survives
    val wdoc = Seq((7L, (words("x", 2) ++ words("w", 10) ++ words("y", 8) ++
      words("w", 10) ++ words("z", 3)).mkString(" ")))
      .toDF("doc_id", "text")
    val wkf = Dedup
      .exactSubstrDedupKeepFirst(wdoc, "doc_id", "text", minLen = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(wkf(7L) === ((md5hex((words("x", 2) ++ words("w", 10) ++
      words("y", 8) ++ words("z", 3)).mkString(" ")), 23L, 10L)))
    spark.catalog.clearCache()
  }

  test("decontamSpanCut: cuts exactly the benchmark-overlapping span, " +
    "leaves clean docs and sub-w docs untouched") {
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val quote = words("q", 9) // a 9-token eval question
    val bench = Seq((100L, quote.mkString(" "))).toDF("bid", "btext")
    val head5 = words("h", 5)
    val tail6 = words("t", 6)
    val docs = Seq(
      // quotes the eval question mid-document
      (1L, (head5 ++ quote ++ tail6).mkString(" ")),
      // clean document
      (2L, words("z", 12).mkString(" ")),
      // shorter than w: no grams, kept whole
      (3L, words("s", 4).mkString(" ")))
      .toDF("doc_id", "text")
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val got = Dedup
      .decontamSpanCut(docs, "doc_id", "text", bench, "btext", w = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // the quote's two 8-gram windows cover exactly its 9 tokens
    assert(got(1L) ===
      ((md5hex((head5 ++ tail6).mkString(" ")), 11L, 9L)))
    assert(got(2L) === ((md5hex(words("z", 12).mkString(" ")), 12L, 0L)))
    assert(got(3L) === ((md5hex(words("s", 4).mkString(" ")), 4L, 0L)))
    spark.catalog.clearCache()
  }

  test("cleaned-text variants: clean_text is the actual surviving " +
    "corpus, md5(clean_text) == clean_hash on every row, and dropping " +
    "the text reproduces the hash form exactly") {
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val long = words("m", 25)
    val docs = Seq(
      (1L, (words("h", 6) ++ long ++ words("t", 4)).mkString(" ")),
      (2L, (words("u", 2) ++ long).mkString(" ")),
      (3L, words("z", 12).mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq((100L, words("m", 9).mkString(" "))).toDF("bid", "btext")
    val lineDocs = Seq(
      (1L, "alpha one\nshared banner\nalpha two"),
      (2L, "beta one\nshared banner"))
      .toDF("doc_id", "text")
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val variants: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("dedupSpans",
        Dedup.dedupSpansText(docs, "doc_id", "text", n = 8),
        Dedup.dedupSpans(docs, "doc_id", "text", n = 8)),
      ("exactSubstrDedup",
        Dedup.exactSubstrDedupText(docs, "doc_id", "text", minLen = 10),
        Dedup.exactSubstrDedup(docs, "doc_id", "text", minLen = 10)),
      ("exactSubstrKeepFirst",
        Dedup.exactSubstrDedupKeepFirstText(docs, "doc_id", "text", 10),
        Dedup.exactSubstrDedupKeepFirst(docs, "doc_id", "text", 10)),
      ("decontamSpanCut",
        Dedup.decontamSpanCutText(docs, "doc_id", "text", bench, "btext", 8),
        Dedup.decontamSpanCut(docs, "doc_id", "text", bench, "btext", 8)),
      ("lineDedup",
        Dedup.lineDedupText(lineDocs, "doc_id", "text"),
        Dedup.lineDedup(lineDocs, "doc_id", "text")))
    variants.foreach { case (name, textForm, hashForm) =>
      assert(textForm.columns.toSeq ===
        Seq("doc_id", "clean_text", "clean_hash", "n_kept", "n_removed"),
        name)
      val rows = textForm.collect()
      rows.foreach { r =>
        assert(md5hex(r.getString(1)) === r.getString(2),
          s"$name doc ${r.getLong(0)}: md5(clean_text) != clean_hash")
      }
      assert(
        rows.map(r => (r.getLong(0), r.getString(2), r.getLong(3),
          r.getLong(4))).toSet ===
          hashForm.collect().map(r =>
            (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet,
        s"$name: text form projected != hash form")
    }
    // the surfaced text IS the surviving corpus (one spot check per
    // removal policy)
    val substr = Dedup
      .exactSubstrDedupText(docs, "doc_id", "text", minLen = 10)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(substr(1L) === (words("h", 6) ++ words("t", 4)).mkString(" "))
    assert(substr(3L) === words("z", 12).mkString(" "))
    val lines = Dedup.lineDedupText(lineDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lines(1L) === "alpha one\nshared banner\nalpha two")
    assert(lines(2L) === "beta one")
    spark.catalog.clearCache()
  }

  test("exactSubstr family is token-grain-agnostic: FromTokens over " +
    "tokens(text) equals the text form; id-array grain finds repeats") {
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val run = words("dup", 12).mkString(" ")
    val docs = Seq(
      (1L, (words("a", 3) :+ run).mkString(" ") + " " +
        words("b", 5).mkString(" ")),
      (2L, run + " " + words("c", 7).mkString(" ")))
      .toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      split(trim(col("text")), " +").as("toks"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(
      rows(Dedup.exactSubstrSpansFromTokens(toks, "doc_id", "toks", 10))
        === rows(Dedup.exactSubstrSpans(docs, "doc_id", "text", 10)))
    assert(
      rows(Dedup.exactSubstrDedupFromTokens(toks, "doc_id", "toks", 10))
        === rows(Dedup.exactSubstrDedup(docs, "doc_id", "text", 10)))
    assert(
      rows(Dedup.exactSubstrDedupKeepFirstFromTokens(
        toks, "doc_id", "toks", 10))
        === rows(Dedup.exactSubstrDedupKeepFirst(docs, "doc_id", "text", 10)))
    // BPE-shaped grain: token-id sequences rendered as strings — the
    // planted 10-id repeat is found with id-offset boundaries
    val ids = Seq(
      (1L, ((1 to 2) ++ (100 to 109) ++ (3 to 6)).map(_.toString)),
      (2L, ((7 to 9) ++ (100 to 109)).map(_.toString)))
      .toDF("doc_id", "toks")
    val spans = Dedup
      .exactSubstrSpansFromTokens(ids, "doc_id", "toks", minLen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((1L, 2L, 10L), (2L, 3L, 10L)))
    spark.catalog.clearCache()
  }

  test("zero-norm vectors are excluded from both roles of the screens " +
    "and from mmrTopK candidates (no NaN ranks, no NPE)") {
    // id 5 is all-zero: cosine against it is 0/0 = NaN, which would
    // out-sort every real score in the DESC top-k. It must neither
    // audit (no output row) nor occupy neighbor slots.
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), 1), (2L, Seq(1.0f, 0.01f), 1),
      (3L, Seq(1.0f, 0.02f), 2), (5L, Seq(0.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val exact = Similarity.labelNoiseScreen(
      vecs, "vec_id", "embedding", "label", k = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(!exact.contains(5L))
    assert(exact(1L) === ((2L, 1L))) // 2 real neighbors, not 3
    val cells = Similarity.labelNoiseScreenCells(
      vecs, "vec_id", "embedding", "label", k = 10, cells = 1,
      dim = Some(2))
      .collect().map(_.getLong(0)).toSet
    assert(cells === Set(1L, 2L, 3L))
    // mmrTopK: the zero vector must not enter the candidate set (a
    // NaN pairwise sim would NPE the greedy lookup)
    val got = Similarity.mmrTopK(
      vecs, "vec_id", "embedding", query = Seq(1.0f, 0.0f),
      candidates = 4, k = 4)
      .collect().map(_.getLong(1)).toSeq
    assert(got.toSet === Set(1L, 2L, 3L))
    // knnJoin / hardNegatives: the gate applies on BOTH sides — the
    // zero vector neither queries (no rows for qid 5) nor serves as a
    // neighbor (it would rank with a fabricated score otherwise)
    val knn = Similarity.knnJoin(vecs, vecs, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!knn.exists(_._1 == 5L) && !knn.exists(_._2 == 5L))
    assert(knn.map(_._1).toSet === Set(1L, 2L, 3L))
    val hn = Similarity.hardNegatives(
      vecs, vecs, "vec_id", "embedding", "label", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!hn.exists(_._1 == 5L) && !hn.exists(_._2 == 5L))
    spark.catalog.clearCache()
  }

  test("labelNoiseScreenCells equals the exact screen on separable " +
    "clusters; oversized cells drop") {
    // two tight clusters, each big enough that every top-4 list is
    // in-cluster — identical vectors can never split across k-means
    // cells, so the cell-restricted screen must equal the exact one
    val a = (1L to 6L).map(i =>
      (i, Seq(1.0f, 0.0f, 0.0f, 0.0f), if (i == 2L) 2 else 1))
    val b = (10L to 14L).map(i => (i, Seq(0.0f, 1.0f, 0.0f, 0.0f), 2))
    val vecs = (a ++ b).toDF("vec_id", "embedding", "label")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .toSet
    val exact = rows(Similarity.labelNoiseScreen(
      vecs, "vec_id", "embedding", "label", k = 4))
    val cells = rows(Similarity.labelNoiseScreenCells(
      vecs, "vec_id", "embedding", "label", k = 4, cells = 4,
      dim = Some(4)))
    assert(cells === exact)
    // maxCell below the cluster size drops every member's row
    assert(Similarity.labelNoiseScreenCells(
      vecs, "vec_id", "embedding", "label", k = 4, cells = 1,
      maxCell = 5, dim = Some(4)).count() === 0L)
    spark.catalog.clearCache()
  }

  test("mmrTopK: diversity-weighted selection skips the near-duplicate") {
    // a is the top hit; b is a's near-exact duplicate with the #2
    // relevance; c is diverse with decent relevance; d is orthogonal
    // junk. Diversity-heavy λ=0.3 seats d (zero penalty) then c, and
    // the near-dup b drops to LAST; relevance-only λ=10 keeps b at 2.
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),          // a = the query
      (2L, Seq(0.9999f, 0.0141f, 0.0f, 0.0f)),    // b ≈ a
      (3L, Seq(0.7f, 0.7f, 0.0f, 0.0f)),          // c diverse
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f))           // d orthogonal
    ).toDF("vec_id", "embedding")
    val q = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val diverse = Similarity.mmrTopK(
      vecs, "vec_id", "embedding", q,
      candidates = 4, k = 3, lamTenths = 3)
      .orderBy("rank").collect()
    assert(diverse.map(_.getLong(1)).toSeq === Seq(1L, 4L, 3L),
      "λ=0.3 order must be a, d, c — the near-dup b never seats")
    // rank 1 is always pure argmax relevance with mmr = λ·rel
    assert(diverse.head.getLong(3) === 3L * diverse.head.getLong(2))
    val relevanceOnly = Similarity.mmrTopK(
      vecs, "vec_id", "embedding", q,
      candidates = 4, k = 3, lamTenths = 10)
      .orderBy("rank").collect()
    assert(relevanceOnly.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L),
      "λ=1.0 must reduce to plain top-k order")
    spark.catalog.clearCache()
  }

  test("mmrTopK: selected ids are distinct, ranks dense, rel from top-k") {
    val n = 60
    val vecs = (0 until n).map { i =>
      val a = i * 0.1
      (i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat,
        (i % 7) / 7.0f, (i % 3) / 3.0f))
    }.toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(
      vecs, "vec_id", "embedding", Seq(1.0f, 0.0f, 0.0f, 0.0f),
      candidates = 20, k = 5)
      .orderBy("rank").collect()
    assert(got.map(_.getInt(0)).toSeq === (1 to 5))
    assert(got.map(_.getLong(1)).distinct.length === 5)
    // every selected id must come from the exact top-20 candidate set
    val top20 = Similarity.cosineTopK(
      vecs, "vec_id", "embedding", Seq(1.0f, 0.0f, 0.0f, 0.0f), k = 20)
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_.getLong(1)).forall(top20.contains))
    spark.catalog.clearCache()
  }

  test("lineDedup: corpus-wide canonical line survives, every other " +
    "occurrence (cross-doc AND within-doc) is cut; full-dup doc dedups " +
    "to the empty shell; text form equals the lines form") {
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val banner = "accept cookies to continue"
    val docs = Seq(
      // first carrier of the banner: keeps it (canonical min doc/line)
      (1L, s"$banner\nunique alpha line\nrepeated local line\n" +
        "repeated local line"),
      // later carrier: banner cut, own singleton lines kept
      (2L, s"unique beta line\n$banner\nunique gamma line"),
      // exact duplicate of doc 2's lines, all seen earlier → empty shell
      (3L, s"unique beta line\n$banner\nunique gamma line"),
      // no shared lines at all: untouched
      (4L, "only here one\nonly here two"))
      .toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // doc 1: keeps banner + alpha + FIRST "repeated local line";
    // the within-doc second copy is cut
    assert(got(1L) === ((md5hex(
      s"$banner\nunique alpha line\nrepeated local line"), 3L, 1L)))
    // doc 2: banner cut (doc 1 is canonical), but its beta/gamma lines
    // are canonical vs doc 3's copies
    assert(got(2L) ===
      ((md5hex("unique beta line\nunique gamma line"), 2L, 1L)))
    // doc 3: every line seen earlier → empty document shell
    assert(got(3L) === ((md5hex(""), 0L, 3L)))
    assert(got(4L) ===
      ((md5hex("only here one\nonly here two"), 2L, 0L)))
    // text form ≡ explicit lines form (the caller-owned segmentation
    // contract)
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("ln", "line")))
    val viaLines = Dedup
      .lineDedupFromLines(lines, "doc_id", "ln", "line")
      .collect().map(_.toSeq).toSet
    assert(viaLines === Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSet)
    // empty frame: no rows, schema intact
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.lineDedup(none, "doc_id", "text").count() === 0L)
    spark.catalog.clearCache()
  }

  test("lineDedup: blank/whitespace-only lines are structure, kept " +
    "unconditionally — never canonicalized, never cut") {
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // Both docs use blank lines as paragraph separators AND share a
    // real duplicated line; doc 2 ends with a trailing newline (split
    // yields a trailing empty segment). Every empty/whitespace segment
    // must survive in BOTH docs — only the content line dedups.
    val docs = Seq(
      (1L, "para one\n\nshared banner\n\npara two"),
      (2L, "intro\n \nshared banner\nclose\n"))
      .toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // doc 1 keeps everything incl. both blank separators (canonical
    // carrier of the shared banner)
    assert(got(1L) === ((md5hex(
      "para one\n\nshared banner\n\npara two"), 5L, 0L)))
    // doc 2 loses ONLY the shared banner; the " " separator and the
    // trailing empty segment are preserved verbatim
    assert(got(2L) === ((md5hex("intro\n \nclose\n"), 4L, 1L)))
    spark.catalog.clearCache()
  }

  test("sliceOverlapMatrix: exact distinct-trigram set math, " +
    "zero-overlap pairs kept, in-slice duplicates collapse") {
    val docs = Seq(
      ("A", "a b c d"), // trigrams {a b c, b c d}
      ("A", "a b c d"), // duplicate doc: distinct set unchanged
      ("B", "a b c x"), // {a b c, b c x} -> shares 1 with A
      ("C", "z z")) // short doc -> single whole-text gram {z z}
      .toDF("source", "text")
    val got = Dedup.sliceOverlapMatrix(docs, "source", "text")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.size === 3) // full matrix: all C(3,2) pairs present
    // (A,B): 1 shared of 2+2 -> 10^6 div 3 = 333333
    assert(got(("A", "B")) === ((2L, 2L, 1L, 333333L)))
    assert(got(("A", "C")) === ((2L, 1L, 0L, 0L)))
    assert(got(("B", "C")) === ((2L, 1L, 0L, 0L)))
    spark.catalog.clearCache()
  }

  test("containmentPairs: excerpt-in-document scores 10^6 ppm where " +
    "Jaccard misses it; matches the set definition; cap guard holds") {
    // doc 900 = the first 8 tokens of doc 0 (a short excerpt — well
    // under the Jaccard radar against the ~30-token source)
    val toks0 = corpus.where(col("doc_id") === 0)
      .select("text").head().getString(0).split(" ")
    val planted = corpus.select("doc_id", "text").unionAll(
      Seq((900L, toks0.take(8).mkString(" "))).toDF("doc_id", "text"))
    val pairs = Dedup.containmentPairs(
      planted, "doc_id", "text", thresholdPpm = 800000L,
      maxPostings = Int.MaxValue)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val hit = pairs((0L, 900L))
    assert(hit._4 === 1000000L, s"full inclusion should be 10^6 ppm: $hit")
    assert(hit._2 > 0L && hit._2 <= 6L) // 8 tokens -> <= 6 distinct trigrams
    assert(hit._3 === hit._2) // every excerpt shingle is in the source
    // the same pair is invisible to Jaccard at any reasonable bar:
    // J = 6 / (28 + 6 - 6) ~ 0.21
    val j = Dedup.ngramJaccardPairs(
      planted, "doc_id", "text", 0.5, maxPostings = Int.MaxValue)
      .where(col("id_a") === 0 && col("id_b") === 900).count()
    assert(j === 0L)
    // independent set-definition check on one organic near-dup pair
    val sets = planted
      .select(col("doc_id"), Dedup.shingleHashes(col("text")).as("sh"))
      .where(col("doc_id").isin(0, 100))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val expect = sets(0L).intersect(sets(100L)).size.toLong * 1000000L /
      math.min(sets(0L).size, sets(100L).size)
    val organic = pairs.get((0L, 100L))
    if (expect >= 800000L)
      assert(organic.get._4 === expect)
    else assert(organic.isEmpty)
    // skew cap: capping postings to 1 kills shared counts entirely
    assert(Dedup.containmentPairs(planted, "doc_id", "text",
      thresholdPpm = 1L, maxPostings = 0).count() === 0L)
    spark.catalog.clearCache()
  }

  test("sampled exact pairs == full pair set restricted to sampled-touching " +
    "pairs; both-sampled pairs count once") {
    val mod = 3L
    def sampledIds(df: DataFrame): Set[Long] = df
      .where(Dedup.pmd5(col("doc_id")) % mod === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val qs = sampledIds(corpus)
    assert(qs.nonEmpty && qs.size < 28, s"degenerate sample: $qs")
    // at least one planted pair must have BOTH endpoints sampled at
    // some mod ≤ 3 — mod 3 over 28 ids gives ~9 samples; if this ever
    // flakes the fixture changed, not the operator
    val full = Dedup.ngramJaccardPairs(
      corpus, "doc_id", "text", threshold = 0.5,
      maxPostings = Int.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val want = full.filter { case ((a, b), _) => qs(a) || qs(b) }
    val got = Dedup.ngramJaccardPairsSampled(
      corpus, "doc_id", "text", threshold = 0.5, sampleMod = mod)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(got === want) // same pairs, same jaccard — shared counts
    // didn't double for both-sampled pairs (the dedupe-before-count)
    spark.catalog.clearCache()
  }

  test("lshRecallSampled: counts match the restricted exhaustive audit, " +
    "recall bounded, n_queries = sampled doc count") {
    val mod = 2L
    val row = Dedup.lshRecallSampled(
      corpus, "doc_id", "text", threshold = 0.5, sampleMod = mod)
      .collect().head
    val nQ = corpus.where(Dedup.pmd5(col("doc_id")) % mod === 0).count()
    assert(row.getAs[Long]("n_queries") === nQ)
    val sampled = corpus.where(Dedup.pmd5(col("doc_id")) % mod === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val nEx = Dedup.ngramJaccardPairs(
      corpus, "doc_id", "text", threshold = 0.5,
      maxPostings = Int.MaxValue)
      .collect().count(r => sampled(r.getLong(0)) || sampled(r.getLong(1)))
    assert(row.getAs[Long]("n_exact") === nEx.toLong)
    assert(nEx > 0, "fixture lost its sampled near-dup pairs")
    val recall = row.getAs[Long]("recall_e4")
    assert(recall >= 0L && recall <= 10000L)
    assert(row.getAs[Long]("n_hits") <= row.getAs[Long]("n_exact"))
    assert(row.getAs[Long]("n_hits") <= row.getAs[Long]("n_lsh"))
    spark.catalog.clearCache()
  }

  test("lshRecallSampled: zero exact pairs (clean corpus) is a VACUOUS " +
    "audit — recall_e4 = 10000, never a div-by-zero NULL") {
    import spark.implicits._
    // four docs with no shared trigrams at all → n_exact = 0
    val clean = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six"),
      (3L, "red green blue cyan magenta"),
      (4L, "north south east west center")).toDF("doc_id", "text")
    val row = Dedup.lshRecallSampled(
      clean, "doc_id", "text", threshold = 0.5, sampleMod = 1L)
      .collect().head
    assert(row.getAs[Long]("n_exact") === 0L)
    assert(!row.isNullAt(row.fieldIndex("recall_e4")))
    assert(row.getAs[Long]("recall_e4") === 10000L)
    spark.catalog.clearCache()
  }

  test("routed-train ivfBuild (k above RoutedTrainThreshold): cells " +
    "partition the corpus, exact clones colocate, build is " +
    "partitioning-invariant") {
    val dim = 8
    val k = 300 // > RoutedTrainThreshold = 256 → two-level Lloyd
    assert(k > Similarity.RoutedTrainThreshold)
    val vecs = (0 until 2000).map { i =>
      val c = i % 50 // 50 planted cluster centers
      (i.toLong, Seq.tabulate(dim)(j =>
        (math.sin(c * 37.0 + j) + 0.001 * (i / 50 % 3)).toFloat))
    }
    // a clone of vector 0 under a fresh id: identical floats MUST land
    // in the identical cell (deterministic struct-max routing)
    val planted = (vecs :+ (9999L, vecs.head._2)).toDF("vec_id", "embedding")
    val idx = Similarity.ivfBuild(
      planted, "vec_id", "embedding", k = k, dim = Some(dim))
    val asg = idx.assigned.select("id", "c").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(asg.size === 2001) // every vector exactly one cell
    assert(asg(9999L) === asg(0L))
    assert(asg.values.toSet.size > 1, "degenerate single-cell build")
    // determinism: same centroids and same assignment from a
    // different physical partitioning (integer-sum means + driver
    // meta-Lloyd are partition-order-free)
    val idx2 = Similarity.ivfBuild(
      planted.repartition(7), "vec_id", "embedding", k = k,
      dim = Some(dim))
    assert(idx2.centroids === idx.centroids)
    val asg2 = idx2.assigned.select("id", "c").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(asg2 === asg)
    spark.catalog.clearCache()
  }

  test("pqTopKBatch == per-query pqTopK for every query in the batch " +
    "(well-separated scores — the e6 shortlist contract agrees with " +
    "the raw ordering)") {
    val dim = 16
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i / 8 * 11.0 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.pqBuild(df, "vec_id", "embedding", m = 4, k = 8)
    val qids = Seq(0L, 55L, 110L, 165L)
    val batch = df.where(col("vec_id").isin(qids: _*))
    val got = Similarity
      .pqTopKBatch(idx, batch, "vec_id", "embedding", k = 5, shortlist = 30)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = qids.flatMap { q =>
      Similarity.pqTopK(idx, vecs(q.toInt)._2, k = 5, shortlist = 30)
        .collect()
        .map(r => (q, r.getLong(0)) -> math.round(r.getDouble(1) * 1e6))
    }.toMap
    assert(got === want)
    spark.catalog.clearCache(); graft.ext.Caches.release()
  }

  test("ivfTopKBatch == per-query ivfTopK for every query in the batch") {
    val dim = 16
    val vecs = (0 until 150).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i / 10 * 13.0 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.ivfBuild(df, "vec_id", "embedding",
      k = 8, dim = Some(dim))
    val qids = Seq(0L, 37L, 74L, 111L, 149L)
    val batch = df.where(col("vec_id").isin(qids: _*))
    val got = Similarity
      .ivfTopKBatch(idx, batch, "vec_id", "embedding", k = 5, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = qids.flatMap { q =>
      Similarity.ivfTopK(idx, vecs(q.toInt)._2, k = 5, nProbe = 2)
        .collect()
        .map(r => (q, r.getLong(0)) ->
          math.round(r.getDouble(1) * 1e6))
    }.toMap
    assert(got === want) // same neighbors, same e6 scores, per query
    spark.catalog.clearCache()
  }

  test("annTopKIndexedBatch == per-query annTopKIndexed for every query " +
    "in the batch, in-memory and through the persisted layout") {
    val dim = 16
    val vecs = (0 until 150).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i / 10 * 13.0 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.signBandIndexBuild(
      df, "vec_id", "embedding", dim = dim, nPlanes = 30, chunks = 5)
    val qids = Seq(0L, 37L, 74L, 111L, 149L)
    val batch = df.where(col("vec_id").isin(qids: _*))
    def gotFrom(ix: Similarity.SignBandIndex): Map[(Long, Long), Long] =
      Similarity
        .annTopKIndexedBatch(ix, batch, "vec_id", "embedding",
          k = 5, probe = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = qids.flatMap { q =>
      Similarity.annTopKIndexed(idx, vecs(q.toInt)._2, k = 5, probe = 4)
        .collect()
        .map(r => (q, r.getLong(0)) -> math.round(r.getDouble(1) * 1e6))
    }.toMap
    assert(gotFrom(idx) === want) // same neighbors, same e6 scores
    // and identically through the write→read round-trip (the layout
    // whose (band, bucket) partitioning the literal filter prunes)
    val dir = java.nio.file.Files.createTempDirectory("graft-sbix")
    try {
      Similarity.signBandIndexWrite(idx, dir.toString)
      val back = Similarity.signBandIndexRead(spark, dir.toString)
      assert(gotFrom(back) === want)
    } finally graft.util.Fs.deleteRecursively(dir)
    spark.catalog.clearCache(); graft.ext.Caches.release()
  }

  test("band index maintenance: append equals a fresh build (pure " +
    "projection), tombstone sidecar serves at once, compaction " +
    "rewrites only the chunks' own partition dirs") {
    import scala.jdk.CollectionConverters._
    val dim = 16
    val vecs = (0 until 150).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i / 10 * 13.0 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-sbmaint")
    try {
      // build on the first 100, APPEND the remaining 50
      Similarity.signBandIndexWrite(
        Similarity.signBandIndexBuild(
          df.where(col("vec_id") < 100), "vec_id", "embedding",
          dim = dim, nPlanes = 30, chunks = 5),
        dir.toString)
      Similarity.signBandIndexAppend(
        spark, dir.toString, df.where(col("vec_id") >= 100),
        "vec_id", "embedding")
      def rows(ix: Similarity.SignBandIndex): Set[(Long, Int, Long, Long)] =
        ix.buckets.select(
          col("id").cast("long"), col("band").cast("int"),
          col("bucket").cast("long"), col("sig").cast("long"))
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
          .toSet
      val full = Similarity.signBandIndexBuild(
        df, "vec_id", "embedding", dim = dim, nPlanes = 30, chunks = 5)
      val grown = Similarity.signBandIndexRead(spark, dir.toString)
      assert(rows(grown) === rows(full)) // append ≡ rebuild, exactly
      // retry idempotence: re-appending the same batch adds NOTHING
      Similarity.signBandIndexAppend(
        spark, dir.toString, df.where(col("vec_id") >= 100),
        "vec_id", "embedding")
      assert(rows(Similarity.signBandIndexRead(spark, dir.toString))
        === rows(full))
      // tombstone two ids: logical delete serves immediately
      val victims = Seq(3L, 120L)
      Similarity.SignBandFamily.delete(
        dir.toString, victims.toDF("vec_id"), "vec_id")
      val logical = Similarity.signBandIndexRead(spark, dir.toString)
      assert(rows(logical) ===
        rows(full).filterNot(r => victims.contains(r._1)))
      // compaction: only the victims' own (band, bucket) dirs rewritten
      def listing(): Map[String, Set[String]] = {
        // resolve per call: compaction publishes a NEW version dir
        val root = java.nio.file.Paths.get(
          graft.util.Manifest.tablePath(dir.toString, "buckets"))
        val bands = java.nio.file.Files.list(root)
        try bands.iterator().asScala
          .filter(_.getFileName.toString.startsWith("band="))
          .flatMap { b =>
            val bks = java.nio.file.Files.list(b)
            try bks.iterator().asScala.toList
              .filter(_.getFileName.toString.startsWith("bucket="))
              .map { p =>
                val fs = java.nio.file.Files.list(p)
                try s"${b.getFileName}/${p.getFileName}" ->
                  fs.iterator().asScala.map(_.getFileName.toString)
                    .filter(_.endsWith(".parquet")).toSet
                finally fs.close()
              }
            finally bks.close()
          }.toMap
        finally bands.close()
      }
      val affected = rows(full)
        .filter(r => victims.contains(r._1))
        .map(r => s"band=${r._2}/bucket=${r._3}")
      val before = listing()
      Similarity.SignBandFamily.compact(spark, dir.toString)
      assert(!graft.util.Manifest.tableExists(dir.toString, "tombstones"))
      val after = listing()
      for ((pdir, files) <- before) {
        if (affected.contains(pdir))
          assert(after(pdir) !== files, s"$pdir should have been rewritten")
        else
          assert(after(pdir) === files, s"$pdir must be untouched bytes")
      }
      assert(rows(Similarity.signBandIndexRead(spark, dir.toString)) ===
        rows(full).filterNot(r => victims.contains(r._1)))
      // RESURRECTION: tombstone id 5 (sidecar only), then re-append it
      // — stale rows scrubbed, sidecar entry dropped, exactly `chunks`
      // live rows serve again
      Similarity.SignBandFamily.delete(
        dir.toString, Seq(5L).toDF("vec_id"), "vec_id")
      assert(!rows(Similarity.signBandIndexRead(spark, dir.toString))
        .exists(_._1 == 5L))
      Similarity.signBandIndexAppend(
        spark, dir.toString, df.where(col("vec_id") === 5L),
        "vec_id", "embedding")
      val r5 = Similarity.signBandIndexRead(spark, dir.toString)
        .buckets.where(col("id") === 5L)
      assert(r5.count() === 5L, "chunks live rows for the resurrected id")
      assert(spark.read
        .parquet(graft.util.Manifest.tablePath(dir.toString, "buckets"))
        .where(col("id") === 5L)
        .count() === 5L, "no stale duplicate rows behind the sidecar")
    } finally graft.util.Fs.deleteRecursively(dir)
    spark.catalog.clearCache(); graft.ext.Caches.release()
  }
}
