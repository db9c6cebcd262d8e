package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup}

/** Batch curation CLI — the production face of the LLM-pipeline
  * operators: one command that takes a raw document corpus and writes a
  * training-ready, sharded, deduplicated, decontaminated parquet corpus
  * plus the funnel report (the t39 table) every published pipeline
  * publishes alongside its dataset.
  *
  * {{{
  * graft.CurateMain <documentsParquet> <outDir>
  *   [--id-col doc_id] [--text-col text]
  *   [--near-dup]                 // minhash-verified cluster dedup (d9)
  *   [--benchmark <parquet>]      // decontaminate against this corpus
  *   [--bench-text-col text]
  *   [--contam-max-e4 2000]       // drop docs at/above this fraction
  *   [--budget <tokens>]          // keep the best-quality prefix that fits
  *   [--shards 16]
  *   [--report-source <col>]      // per-source diversity + PSI drift report
  *   [--index-health fam=dir,...] // tombstone-debt report per index
  * }}}
  *
  * Any other argument, or a value flag without its value, is a usage
  * error (exit 2).
  *
  * Stage order is the published one (Gopher → exact dedup → near-dup →
  * decontamination → shard): quality first so the expensive set math
  * runs on survivors only; dedup before decontamination so a
  * contaminated cluster costs ONE benchmark comparison, not one per
  * duplicate. Every stage is a library operator the query pack already
  * hash-certifies (t13/t30 gates, d7 keep-best, d9 cluster dedup, d10
  * contamination, t17 shard assignment); this main contributes only
  * the composition, the per-stage counters, and the writes.
  *
  * Scale shape: stage outputs are persisted skinny frames (ids +
  * counters), the final text re-join is one hash join against the raw
  * corpus, and the output write partitions by shard — at 100 TB each
  * stage is the same bounded-shuffle plan its pack query runs, and
  * nothing beyond the funnel counters (one row per stage) ever reaches
  * the driver.
  */
object CurateMain {

  private val usage =
    """usage: graft.CurateMain <documentsParquet> <outDir>
      |  [--id-col doc_id] [--text-col text] [--near-dup]
      |  [--benchmark <parquet>] [--bench-text-col text]
      |  [--contam-max-e4 2000] [--budget <tokens>] [--shards 16]
      |  [--report-source <col>]      // per-source diversity + PSI drift report
      |  [--index-health fam=dir,...] // tombstone-debt report per persisted index
      |                               //   (fam: minhash|ivf|ivfpq|band)""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.length < 2) { System.err.println(usage); sys.exit(2) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-curate")
      .config("spark.sql.shuffle.partitions",
        if (cpus == "*") "32" else cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(s"${e.getMessage}\n$usage"); sys.exit(2)
    } finally spark.stop()
  }

  private val valueFlags = Set("--id-col", "--text-col", "--benchmark",
    "--bench-text-col", "--contam-max-e4", "--budget", "--shards",
    "--report-source", "--index-health")

  /** The flags after `<in> <out>`, flag -> value (`--near-dup` maps to
    * ""). Any other argument, or a value flag without its value, is a
    * usage error: a typo'd flag must not silently run a different
    * curation (`--shard 4` would write 16 shards). */
  private[graft] def parseFlags(
      rest: List[String], seen: Map[String, String] = Map.empty)
      : Map[String, String] =
    rest match {
      case Nil => seen
      case "--near-dup" :: tail => parseFlags(tail, seen + ("--near-dup" -> ""))
      case f :: v :: tail if valueFlags(f) && !v.startsWith("--") =>
        parseFlags(tail, seen + (f -> v))
      case f :: _ if valueFlags(f) =>
        throw new IllegalArgumentException(s"$f needs a value")
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
    }

  private[graft] def run(spark: SparkSession, args: Array[String]): Unit = {
    val in = args(0)
    val outDir = args(1)
    val flags = parseFlags(args.drop(2).toList)
    def opt(name: String): Option[String] = flags.get(name)
    val idCol = opt("--id-col").getOrElse("doc_id")
    val textCol = opt("--text-col").getOrElse("text")
    val nearDup = flags.contains("--near-dup")
    val benchmark = opt("--benchmark")
    val benchTextCol = opt("--bench-text-col").getOrElse("text")
    val contamMaxE4 = opt("--contam-max-e4").map(_.toLong).getOrElse(2000L)
    val budget = opt("--budget").map(_.toLong)
    val nShards = opt("--shards").map(_.toInt).getOrElse(16)

    val funnel = collection.mutable.LinkedHashMap[String, (Long, Long)]()
    def stage(name: String, df: DataFrame): DataFrame = {
      val row = df.agg(
        count(lit(1)), coalesce(sum(col("ntok")), lit(0L))).head()
      funnel += name -> ((row.getLong(0), row.getLong(1)))
      println(f"[curate] $name%-12s docs=${row.getLong(0)}%9d " +
        f"tokens=${row.getLong(1)}%12d")
      df
    }

    val raw = spark.read.parquet(in)
    // one tokenize pass serves the pre-filter counter AND the gate:
    // the flagged frame carries every document with its Gopher flags
    val flagged = Curation.qualityFlags(raw, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stage("input", flagged)

    // 1. Gopher gates (stateless column expressions)
    val quality = stage("quality",
      flagged.where(Curation.qualityPass)
        .select("doc_id", "text", "toks", "ntok")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    flagged.unpersist()

    // 2. exact dedup, keep the longest copy (d7 keep-best semantics)
    val exactKeep = Dedup.dedupKeepBest(quality, "doc_id", "text",
      col("ntok").cast("double"))
      .select(col("doc_id"), col("content_hash"))
    val exact = stage("exact_dedup",
      quality.join(exactKeep, Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    quality.unpersist()

    // 3. optional near-dup cluster dedup (minhash-verified Jaccard →
    //    connected components → longest survivor per cluster)
    val afterNd =
      if (!nearDup) exact
      else stage("near_dup",
        exact.join(
          Dedup.dedupCorpusByNgram(
            exact, "doc_id", "text", col("ntok").cast("double"))
            .select(col("keep_id").as("doc_id")),
          Seq("doc_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // 4. decontamination against the benchmark corpus (exact shingle
    //    fraction, d10 — the benchmark side broadcasts)
    val clean = benchmark match {
      case None => afterNd
      case Some(b) =>
        // persisted like every other stage: the counter action and the
        // final sharded write must not re-run the contamination join
        stage("decontam",
          afterNd.join(
            Dedup.contamination(
              afterNd, "doc_id", "text",
              spark.read.parquet(b), benchTextCol)
              .where(col("contamination_e4") < contamMaxE4)
              .select(col("id").as("doc_id")),
            Seq("doc_id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }

    // 5. optional token budget — keep the best-quality prefix whose
    //    cumulative tokens fit (t22: banded prefix sums, no global
    //    sort; quality = the t4 blend, e6-scaled for the integer
    //    cumsum)
    val budgeted = budget match {
      case None => clean
      case Some(t) =>
        stage("budget",
          clean.join(
            graft.ext.Packing.budgetPrune(
              clean.withColumn("q",
                (graft.ext.TextAnalysis.qualityScore(col("text")) * 1e6)
                  .cast("long")),
              "doc_id", "q", "ntok", budget = t)
              .select("doc_id"),
            Seq("doc_id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }

    // 6. content-keyed shard + in-shard position (t17: deterministic
    //    global shuffle, no RNG), written one directory per shard.
    //    The position window runs over the SKINNY (doc_id, hash, shard)
    //    projection — the per-shard sort carries ~24 bytes/doc, never
    //    the text — and positions join back by doc_id. One shard's keys
    //    must fit one task's (spillable) sort: size --shards so
    //    corpus_docs/nShards stays ~10^9 at most; shard COUNT, not
    //    shard size, is the scale knob, exactly as in t17.
    import org.apache.spark.sql.expressions.Window
    val positions = budgeted
      .select(col("doc_id"), col("content_hash"),
        Curation.shardOfContent(col("content_hash"), nShards).as("shard"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard")
          .orderBy(col("content_hash"), col("doc_id"))))
      .select("doc_id", "shard", "pos")
    val sharded = budgeted
      .join(positions, Seq("doc_id"))
      .select("doc_id", "text", "ntok", "content_hash", "shard", "pos")
    sharded.write.mode("overwrite")
      .partitionBy("shard").parquet(s"$outDir/corpus")

    val json = funnel.map { case (k, (d, t)) =>
      s"""{"stage":"$k","docs":$d,"tokens":$t}"""
    }.mkString("[", ",", "]")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "_funnel.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[curate] wrote $outDir/corpus (+ _funnel.json)")

    // 7. optional monitoring report over the SURVIVING corpus, keyed by
    //    a source column of the input: per-source KMV distinct-shingle
    //    diversity (d35) and PSI quality-score drift vs the survivors'
    //    own global deciles (t45) — the "did curation skew a source /
    //    collapse its diversity" audit a production pipeline publishes
    //    next to the funnel. Both are reduced-frame math after one
    //    shingle pass / one bucket-count shuffle.
    opt("--report-source").foreach { srcCol =>
      // survivors come back from the JUST-WRITTEN corpus parquet — the
      // dedup-join + per-shard window lineage above is unpersisted
      // after the write, so deriving them from `sharded` would re-run
      // the whole pipeline tail a second time
      val survivors = spark.read.parquet(s"$outDir/corpus")
        .select("doc_id")
        .join(
          raw.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
            col(textCol).as("text")),
          Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ext.Kmv.distinctAudit(survivors)
        .write.mode("overwrite").parquet(s"$outDir/_report/source_diversity")
      graft.ext.Splits.psiDrift(
        survivors.select(col("source"),
          floor(graft.ext.TextAnalysis.qualityScore(col("text")) * 10000)
            .cast("long").as("quality_e4")),
        "source", "quality_e4")
        .write.mode("overwrite").parquet(s"$outDir/_report/psi_quality_drift")
      survivors.unpersist()
      println(s"[curate] wrote $outDir/_report " +
        "(source_diversity + psi_quality_drift)")
    }

    // 7b. optional tombstone-debt report over persisted index
    //     artifacts ([[graft.ext.IndexHealth.tombstoneReport]]): one
    //     row per index with the logical-delete fraction and the
    //     compaction-policy verdict, published beside the funnel so a
    //     release pipeline sees "compact before shipping" in the same
    //     place it reads the curation stats.
    opt("--index-health").foreach { spec =>
      val reports = spec.split(',').toSeq.map { entry =>
        entry.split("=", 2) match {
          case Array(fam, d) =>
            graft.ext.IndexHealth.tombstoneReport(spark, d, fam)
              .withColumn("dir", lit(d))
          case _ => throw new IllegalArgumentException(
            s"--index-health expects fam=dir[,fam=dir...], got '$entry'")
        }
      }
      reports.reduce(_.unionByName(_))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/_report/index_health")
      println(s"[curate] wrote $outDir/_report/index_health " +
        s"(${reports.size} indexes)")
    }
  }
}
