package graft

import org.apache.spark.sql.functions._

/** End-to-end drive of the batch curation CLI on a real sf corpus with
  * planted defects: an exact duplicate, a near-dup clique, and a
  * benchmark-contaminated document. Asserts the funnel is monotone and
  * the written corpus is exactly the surviving set, sharded and
  * positioned deterministically. */
class CurateMainSpec extends SparkSpec {
  import spark.implicits._

  test("CurateMain: full chain drops the planted dup/contaminated doc, " +
    "writes sharded corpus + funnel report") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // pick plant subjects from the quality-PASSING set so the later
    // stages (not the gopher gate) are what decides their fate
    val passingAll = graft.ext.Curation.qualityGate(docs, "doc_id", "text")
      .select("doc_id", "text").orderBy("doc_id").collect()
    // exclude docs in an organic near-dup pair — the plants' fate must
    // be decided by the stage we aim them at, not cluster survivorship
    val paired = graft.ext.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", 0.8)
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .collect().map(_.getLong(0)).toSet
    val passing = passingAll.filterNot(r => paired(r.getLong(0)))
    assert(passing.length >= 2, "fixture too small for the plants")
    val one = passing.head
    val (survivorId, survivorText) = (one.getLong(0), one.getString(1))
    // plant: an exact duplicate of doc `survivorId` (higher id, same
    // text -> keep-best keeps the ORIGINAL on ntok tie by lower id)
    val planted = docs.unionAll(
      Seq((9000001L, survivorText)).toDF("doc_id", "text"))
    val in = java.nio.file.Files.createTempDirectory("curate-in").toString
    planted.write.mode("overwrite").parquet(in)
    // benchmark corpus = one OTHER quality-passing document's text ->
    // that doc becomes fully contaminated and must drop at decontam
    val benchSrc = passing.last
    val bench = java.nio.file.Files.createTempDirectory("curate-b").toString
    Seq(Tuple1(benchSrc.getString(1))).toDF("text")
      .write.mode("overwrite").parquet(bench)
    val out = java.nio.file.Files.createTempDirectory("curate-out").toString

    CurateMain.run(spark, Array(
      in, out, "--near-dup", "--benchmark", bench, "--shards", "4"))

    val funnel = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_funnel.json")))
    val stages = """"stage":"(\w+)","docs":(\d+)""".r
      .findAllMatchIn(funnel).map(m => m.group(1) -> m.group(2).toLong)
      .toSeq
    assert(stages.map(_._1) ===
      Seq("input", "quality", "exact_dedup", "near_dup", "decontam"))
    // monotone funnel; the planted exact dup is gone at exact_dedup
    assert(stages.sliding(2).forall { case Seq(a, b) => b._2 <= a._2 })
    val byStage = stages.toMap
    assert(byStage("input") === docs.count() + 1)

    val corpus = spark.read.parquet(s"$out/corpus")
    assert(corpus.count() === byStage("decontam"))
    // survivors: original kept, planted copy dropped, benchmark-source
    // doc dropped (contamination 10^4 >= default 2000)
    val ids = corpus.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(survivorId))
    assert(!ids.contains(9000001L))
    assert(!ids.contains(benchSrc.getLong(0)))
    // sharding: every shard in [0, 4), positions contiguous from 1
    val shards = corpus.select("shard", "pos")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(shards.forall(s => s._1 >= 0 && s._1 < 4))
    shards.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to rows.length), "pos")
    }
    // determinism: a second run writes the identical corpus
    val out2 = java.nio.file.Files.createTempDirectory("curate-out2").toString
    CurateMain.run(spark, Array(
      in, out2, "--near-dup", "--benchmark", bench, "--shards", "4"))
    val again = spark.read.parquet(s"$out2/corpus")
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    val first = corpus.select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    assert(again === first)
    Seq(in, bench, out, out2).foreach(d =>
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(d)))
  }

  test("CurateMain --budget: output tokens fit the budget, best-quality " +
    "prefix kept, funnel gains the stage row") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val in = java.nio.file.Files.createTempDirectory("curate-bin").toString
    docs.write.mode("overwrite").parquet(in)
    val out = java.nio.file.Files.createTempDirectory("curate-bout").toString
    CurateMain.run(spark, Array(in, out, "--budget", "5000", "--shards", "2"))
    val funnel = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_funnel.json")))
    val stages = """"stage":"(\w+)","docs":(\d+),"tokens":(\d+)""".r
      .findAllMatchIn(funnel)
      .map(m => m.group(1) -> ((m.group(2).toLong, m.group(3).toLong)))
      .toMap
    assert(stages.contains("budget"))
    assert(stages("budget")._2 <= 5000L, "budget stage token total")
    val corpus = spark.read.parquet(s"$out/corpus")
    assert(corpus.count() === stages("budget")._1)
    assert(corpus.agg(sum("ntok")).head().getLong(0) <= 5000L)
    // the kept set is the exact t22 prefix: replay on the exact_dedup
    // survivors (no benchmark -> budget input is the dedup output)
    import graft.ext.{Packing, TextAnalysis}
    val quality = graft.ext.Curation.qualityGate(docs, "doc_id", "text")
    val exact = quality.join(
      graft.ext.Dedup.dedupKeepBest(
        quality, "doc_id", "text", col("ntok").cast("double"))
        .select("doc_id"), Seq("doc_id"))
    val want = Packing.budgetPrune(
      exact.withColumn("q",
        (TextAnalysis.qualityScore(col("text")) * 1e6).cast("long")),
      "doc_id", "q", "ntok", budget = 5000L)
      .select("doc_id").as[Long].collect().toSet
    val got = corpus.select("doc_id").as[Long].collect().toSet
    assert(got === want)
    Seq(in, out).foreach(d =>
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(d)))
  }

  test("CurateMain --report-source: per-source diversity + PSI drift " +
    "reports match the library operators on the written survivors") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"),
        concat(lit("src"), (col("doc_id") % 3).cast("string")).as("origin"))
    val in = java.nio.file.Files.createTempDirectory("curate-rin").toString
    docs.write.mode("overwrite").parquet(in)
    val out = java.nio.file.Files.createTempDirectory("curate-rout").toString
    CurateMain.run(spark, Array(
      in, out, "--shards", "2", "--report-source", "origin"))

    val corpus = spark.read.parquet(s"$out/corpus")
    val survivors = corpus.select("doc_id")
      .join(docs.select(col("doc_id"), col("origin").as("source"),
        col("text")), Seq("doc_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet

    val divReport = spark.read.parquet(s"$out/_report/source_diversity")
    assert(rows(divReport) == rows(graft.ext.Kmv.distinctAudit(survivors)))
    val psiReport = spark.read.parquet(s"$out/_report/psi_quality_drift")
    assert(rows(psiReport) == rows(graft.ext.Splits.psiDrift(
      survivors.select(col("source"),
        floor(graft.ext.TextAnalysis.qualityScore(col("text")) * 10000)
          .cast("long").as("quality_e4")),
      "source", "quality_e4")))
    // one row per surviving source, all three planted sources survive
    assert(psiReport.count() == 3L && divReport.count() == 3L)
    Seq(in, out).foreach(d =>
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(d)))
  }

  test("CurateMain --index-health: one tombstone-debt row per index, " +
    "policy verdict included") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val in = java.nio.file.Files.createTempDirectory("curate-hin").toString
    docs.write.mode("overwrite").parquet(in)
    val out = java.nio.file.Files.createTempDirectory("curate-hout").toString
    val mh = java.nio.file.Files.createTempDirectory("curate-hmh").toString
    val ivf = java.nio.file.Files.createTempDirectory("curate-hivf").toString
    graft.ext.Dedup.minhashIndexWrite(
      docs.where(col("doc_id") < 100), "doc_id", "text", mh)
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i + j).toFloat))
    }.toDF("vec_id", "embedding")
    graft.ext.Similarity.ivfIndexWrite(
      graft.ext.Similarity.ivfBuild(
        vecs, "vec_id", "embedding", k = 4, dim = Some(8)),
      ivf)
    // 8/40 tombstoned = 20% — over the 10% policy, the verdict fires
    graft.ext.Similarity.IvfFamily.delete(
      ivf, (0 until 8).map(_.toLong * 5).toDF("vec_id"), "vec_id")
    // plus deletes for ids that are NOT members (a takedown re-sent
    // after a physical compaction already removed them): the debt
    // metric intersects the sidecar with membership, so these must
    // not inflate the fraction or drive live_rows negative
    graft.ext.Similarity.IvfFamily.delete(
      ivf, (900 until 904).map(_.toLong).toDF("vec_id"), "vec_id")
    CurateMain.run(spark, Array(
      in, out, "--shards", "2",
      "--index-health", s"minhash=$mh,ivf=$ivf"))
    val report = spark.read.parquet(s"$out/_report/index_health")
      .collect().map(r => r.getAs[String]("family") ->
        ((r.getAs[Long]("live_rows"), r.getAs[Long]("tombstoned_rows"),
          r.getAs[Long]("tombstone_frac_e6"),
          r.getAs[Long]("compact_recommended")))).toMap
    assert(report.keySet === Set("minhash", "ivf"))
    assert(report("minhash")._2 === 0L)
    assert(report("minhash")._4 === 0L)
    assert(report("ivf") === ((32L, 8L, 200000L, 1L)),
      "20% tombstoned fires the 10% compaction policy")
    Seq(in, out, mh, ivf).foreach(d =>
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(d)))
  }

  test("CurateMain --drift-baseline freezes the online-monitor artifact; " +
    "re-feeding the curated corpus itself is zero-drift, zero-novelty") {
    import graft.ext.{Curation, Kmv, Splits}
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val in = java.nio.file.Files.createTempDirectory("curate-din").toString
    docs.write.mode("overwrite").parquet(in)
    val out = java.nio.file.Files.createTempDirectory("curate-dout").toString
    val baseDir = java.nio.file.Files.createTempDirectory("curate-dbase").toString
    val repDir = java.nio.file.Files.createTempDirectory("curate-drep").toString

    CurateMain.run(spark, Array(
      in, out, "--shards", "2", "--drift-baseline", baseDir))

    // the artifact is complete and round-trips
    val base = Splits.driftBaselineRead(spark, baseDir)
    assert(base.thresholds.size === 9 && base.nb.nonEmpty)
    assert(base.n === spark.read.parquet(s"$out/corpus").count())
    val seed = spark.read.parquet(s"$baseDir/sketch")
      .head().getSeq[Long](0)
    assert(seed.nonEmpty)

    // drive ONE monitor micro-batch with the curated corpus itself:
    // identical distribution ⇒ every PSI term is exactly 0 (p == q as
    // doubles), and the sketch seed already holds every shingle ⇒ the
    // merge is a no-op and novelty books 0
    Curation.driftMonitorApply(
      spark.read.parquet(s"$out/corpus").select("text"),
      batchId = 0L, textCol = "text", base = base,
      baselineDir = baseDir, reportDir = repDir,
      labelCol = None, k = Kmv.DefaultK)
    val row = spark.read.parquet(s"$repDir/drift").head()
    assert(row.getAs[Long]("n_docs") === base.n)
    assert(row.getAs[Long]("psi_e6") === 0L)
    assert(row.getAs[Long]("flagged") === 0L)
    assert(row.getAs[Long]("novel_est") === 0L)
    assert(row.getAs[Long]("est_after") === row.getAs[Long]("est_before"))
    assert(Curation.driftSketchLatest(spark, repDir).get === seed)

    // foreachBatch RETRY idempotence: replaying a batch re-reads the
    // PRE-batch sketch version and overwrites its own report
    // partition — one row per batch, identical novelty, no
    // double-merge (the failure mode: a crash between the state write
    // and the sink commit re-runs the batch against its own output)
    def driftRows() = spark.read.parquet(s"$repDir/drift")
      .select("batch_id", "n_docs", "psi_e6", "est_before", "est_after",
        "novel_est")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val freshDocs = spark.read.parquet(in)
      .select(concat(lit("NOVEL xyz"), col("text")).as("text"))
    Curation.driftMonitorApply(
      freshDocs, batchId = 1L, textCol = "text", base = base,
      baselineDir = baseDir, reportDir = repDir, labelCol = None,
      k = Kmv.DefaultK)
    val afterFirst = driftRows()
    val sketchFirst = Curation.driftSketchLatest(spark, repDir).get
    assert(afterFirst.length === 2)
    // the replay
    Curation.driftMonitorApply(
      freshDocs, batchId = 1L, textCol = "text", base = base,
      baselineDir = baseDir, reportDir = repDir, labelCol = None,
      k = Kmv.DefaultK)
    assert(driftRows() === afterFirst) // same rows, same novelty, no dup
    assert(Curation.driftSketchLatest(spark, repDir).get === sketchFirst)
    Seq(in, out, baseDir, repDir).foreach(d =>
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(d)))
  }
}
