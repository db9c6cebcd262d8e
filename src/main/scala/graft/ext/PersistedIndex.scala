package graft.ext

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Manifest

/** The one maintenance lifecycle of the persisted index families
  * (minhash, IVF, IVF-PQ, sign-LSH band): partition-local indexes kept
  * up to date incrementally, the model of REPOSE (ICDE 2021) and
  * Incremental Top-K (EDBT 2020). A family is a plain [[Family]] value
  * naming its tables and the partition columns of each; delete,
  * partition-scoped compaction, the resurrection scrub and the
  * idempotent append step are written ONCE against it, so
  * a fix lands in every family at once. What really differs stays
  * with the family: its encode, its read into its case class,
  * and minhash's `bucket_n` recount ([[Table.onCompact]]).
  *
  * Deletes follow the tombstone-sidecar discipline: a LOGICAL delete
  * appends ids to the index's `tombstones` table (no index file
  * touched), readers anti-join the sidecar, and compaction later
  * rewrites the affected partitions physically and retires the sidecar
  * IN THE SAME [[graft.util.Manifest]] flip that publishes them —
  * "compacted" and "sidecar cleared" are one atomic transition, and an
  * interrupted compact re-runs in full (the old manifest still lists
  * the sidecar). All resolution goes through the manifest (legacy
  * plain-dir layouts read unchanged), and the first read of a root
  * sweeps any stranded pre-manifest rewrite residue
  * ([[graft.util.Fs.sweepSwapResidue]]). */
object PersistedIndex {

  private val Tombstones = "tombstones"

  /** One member table of an index: every row carries the member `id`.
    * `partitionCols` is the table's `partitionBy` layout (empty =
    * unpartitioned, so maintenance rewrites it whole); `onCompact`
    * post-processes the live rows when compaction rewrites the table. */
  final case class Table(
      name: String, partitionCols: Seq[String] = Nil,
      onCompact: DataFrame => DataFrame = identity)

  /** A persisted index family. `tables` hold the members — deletes,
    * compaction and appends touch only them; `model` names the frozen
    * build-time tables (centroids, codebooks, params) that maintenance
    * never rewrites. `member` restricted to `memberRows` holds exactly
    * one row per member: what the tombstone-debt metrics count
    * ([[IndexHealth]]) and what the append dup gate scans. */
  final case class Family(
      name: String, tables: Seq[Table], model: Seq[String],
      member: String, memberRows: Column = lit(true)) {

    /** Writers for a full build: each member table in its declared
      * partition layout, each model table as one file. */
    private[ext] def writers(
        members: Map[String, DataFrame], models: Map[String, DataFrame])
        : Seq[(String, Path => Unit)] =
      model.map(m => m -> { p: Path =>
        models(m).coalesce(1).write.mode("overwrite").parquet(p.toString)
      }) ++ tables.map(t => t.name -> { p: Path =>
        aligned(members(t.name), t.partitionCols).write.mode("overwrite")
          .partitionBy(t.partitionCols: _*).parquet(p.toString)
      })

    /** Full (re)build through [[Manifest.writeIndex]]: a rebuild into a
      * dir that maintenance already made manifest-managed publishes
      * (a plain in-place rewrite would be invisible to readers and
      * GC'd), and the flip retires the old tables plus any live
      * sidecar wholesale. */
    private[ext] def write(
        spark: SparkSession, dir: String,
        members: Map[String, DataFrame], models: Map[String, DataFrame])
        : Unit =
      Manifest.writeIndex(spark, Paths.get(dir), writers(members, models))

    /** Member table `table` as served from `snap`: layout-checked, with
      * the logical deletes applied. */
    private[ext] def live(
        spark: SparkSession, snap: Manifest.Snapshot, table: String)
        : DataFrame =
      applyTombstones(spark, snap,
        load(spark, snap, tables.find(_.name == table).get))

    /** LOGICAL delete: `tombstones`' ids (cast to the layout's long id
      * contract, distinct) append to the sidecar — creating it, and its
      * manifest entry on manifest roots, if absent. No index file is
      * touched; every read stops serving the ids at once. Append in
      * place is reader-safe: parquet files land whole, and a reader's
      * listing sees either snapshot of an append-only table. */
    def delete(dir: String, tombstones: DataFrame, idCol: String): Unit = {
      val root = Paths.get(dir)
      val ids = tombstones.select(col(idCol).cast("long").as("id")).distinct()
      Manifest.resolve(root, Tombstones) match {
        case Some(p) => ids.write.mode("append").parquet(p.toString)
        case None if Manifest.read(root).isDefined =>
          // manifest root without a sidecar yet: write the table first,
          // then commit its entry with one flip (a crash in between
          // leaves an orphan the next publish GCs — the delete is only
          // durable once the flip lands, same as any other publish)
          val v = Manifest.nextVersion(root, Tombstones)
          ids.write.mode("overwrite").parquet(root.resolve(v).toString)
          Manifest.flip(root, Manifest.entries(root) + (Tombstones -> v))
        case None =>
          ids.write.mode("append").parquet(root.resolve(Tombstones).toString)
      }
    }

    /** PHYSICAL compaction: each member table loses its tombstoned rows
      * — partition-scoped, so only the partitions that hold them are
      * rewritten into the new version and the rest hardlink (untouched
      * bytes; a takedown of a handful of members rewrites a handful of
      * partitions, not the index) — and ONE manifest flip publishes the
      * rewritten tables and retires the sidecar. A concurrent reader
      * sees either the full pre-compact state (old tables + tombstone
      * anti-join) or the full post-compact state, never a missing table
      * or a cleared sidecar over uncompacted data. The affected
      * partition set is found with one broadcast-join scan per table
      * and is collected (bounded by the partition count). */
    def compact(spark: SparkSession, dir: String): Unit =
      tombstonesOf(spark, Manifest.snapshot(dir)).foreach { t =>
        publishWithout(spark, dir, broadcast(t), compacting = true)
      }

    /** Resurrection scrub: stale rows of `ids` leave their partitions
      * and the sidecar shrinks, in ONE publish — a reader can never
      * pair scrubbed tables with the stale sidecar (which would hide the
      * about-to-be-appended ids) or vice versa. Remaining rows keep
      * their stored values ([[Table.onCompact]] runs at compaction). */
    private def scrub(spark: SparkSession, dir: String, ids: Seq[Long])
        : Unit = {
      import spark.implicits._
      publishWithout(spark, dir, broadcast(ids.toDF("id")), compacting = false)
    }

    private def publishWithout(
        spark: SparkSession, dir: String, ids: DataFrame,
        compacting: Boolean): Unit = {
      val snap = Manifest.snapshot(dir)
      val rewrites = tables.flatMap { t =>
        def kept(df: DataFrame): DataFrame = {
          val rest = df.join(ids, Seq("id"), "left_anti")
          if (compacting) t.onCompact(rest) else rest
        }
        if (t.partitionCols.isEmpty)
          Some(Manifest.TableRewrite(t.name, None, kept))
        else {
          val parts = load(spark, snap, t).join(ids, Seq("id"))
            .select(t.partitionCols.map(col): _*).distinct().collect()
            .map(r => t.partitionCols.zip(r.toSeq)
              .map { case (c, v) => s"$c=$v" }.mkString("/"))
          if (parts.isEmpty) None
          else Some(Manifest.TableRewrite(
            t.name, Some(parts.toSeq.sorted), kept))
        }
      }
      if (compacting)
        Manifest.publishRewrite(spark, snap.root, rewrites,
          drop = Seq(Tombstones))
      else
        Manifest.publishRewrite(spark, snap.root,
          rewrites :+ Manifest.TableRewrite(Tombstones, None,
            _.join(ids, Seq("id"), "left_anti")))
    }

    /** The step every idempotent append shares. `ids` are the batch's
      * distinct member ids and `rows(table)` builds that table's new
      * rows from its current content.
      *  1. Resurrect: batch ids sitting in the sidecar are re-ingests
      *     after a delete — their stale rows are scrubbed and their
      *     sidecar entries dropped first, or the read-side anti-join
      *     (and a later compaction) would swallow the append.
      *  2. Dup gate, PER TABLE: ids a table already holds are dropped
      *     from its rows, found with one scan pruned to the batch's own
      *     partitions (and to `memberRows` on the member table) with the
      *     batch's ids broadcast onto it. A retry appends nothing, and a
      *     crash between two tables' appends heals on retry instead of
      *     stranding a half-appended id.
      *  3. Append the rest aligned to the table's partition columns: new
      *     files land only under the touched partitions.
      * The index is only ever scanned (pruned), never shuffled; every
      * join side that moves is batch-scale. PRECONDITION: a re-delivered
      * id carries identical content — a changed vector or text can land
      * in other partitions, escape the pruned gate and duplicate the id.
      * Updates go delete → compact → append. */
    private[ext] def append(
        spark: SparkSession, dir: String, ids: DataFrame,
        rows: Map[String, DataFrame => DataFrame]): Unit = {
      tombstonesOf(spark, Manifest.snapshot(dir)).foreach { t =>
        val resurrect = t.join(broadcast(ids), Seq("id"))
          .collect().map(_.getLong(0))
        if (resurrect.nonEmpty) scrub(spark, dir, resurrect.toSeq)
      }
      val snap = Manifest.snapshot(dir)
      tables.foreach { t =>
        val existing = load(spark, snap, t)
        val fresh = rows(t.name)(existing)
        val gate = if (t.name == member) memberRows else lit(true)
        partitionFilter(fresh.where(gate), t.partitionCols).foreach { parts =>
          val dup = existing.where(gate && parts)
            .join(broadcast(ids), Seq("id")).select(col("id")).distinct()
          aligned(fresh.join(broadcast(dup), Seq("id"), "left_anti"),
            t.partitionCols)
            .write.mode("append").partitionBy(t.partitionCols: _*)
            .parquet(snap.path(t.name))
        }
      }
    }
  }

  /** The sidecar's distinct id set, if one exists — resolved from the
    * caller's manifest SNAPSHOT, so the sidecar epoch always matches
    * the tables the caller resolved from the same snapshot (a fresh
    * read here could straddle a compaction's flip and pair old data
    * with the already-retired sidecar, resurrecting deleted rows).
    * Mounts the one-shot legacy-residue sweep: this is the shared open
    * path every family's reader passes through. */
  private[ext] def tombstonesOf(
      spark: SparkSession, snap: Manifest.Snapshot): Option[DataFrame] = {
    if (snap.mapping.isEmpty) graft.util.Fs.sweepSwapResidue(snap.root)
    snap.resolve(Tombstones)
      .filter(java.nio.file.Files.isDirectory(_))
      .map(p => spark.read.parquet(p.toString).select(col("id")).distinct())
  }

  /** Serve `df` minus the sidecar (broadcast anti-join) — the logical
    * delete, visible before any compaction. */
  private[ext] def applyTombstones(
      spark: SparkSession, snap: Manifest.Snapshot, df: DataFrame)
      : DataFrame =
    tombstonesOf(spark, snap).fold(df)(t =>
      df.join(broadcast(t), Seq("id"), "left_anti"))

  /** `t` read from `snap`, checked to carry the partition columns it
    * declares: a table written in any other layout would break
    * partition-scoped maintenance silently, so every family fails
    * here instead. */
  private def load(spark: SparkSession, snap: Manifest.Snapshot, t: Table)
      : DataFrame = {
    val df = spark.read.parquet(snap.path(t.name))
    val missing = t.partitionCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"index table '${t.name}' under ${snap.root} lacks its partition " +
        s"columns ${missing.mkString(", ")}: rebuild the index")
    df
  }

  /** Align a frame to its write layout's partition columns before a
    * `partitionBy` write: hash-repartitioning on the partition columns
    * lands every partition VALUE in exactly one task, so the write
    * emits one file per partition dir per operation instead of
    * (input tasks × dirs) tiny files — small files hurt twice. Measured
    * on s34's two appends: 32 input partitions × 16 cells = up to 512
    * parquet writer inits + commits EACH (10–23 s of the query's 25 s;
    * file count, not compute, was the cost). The shuffle moves only the
    * rows being written (batch- or rebuild-scale, never the index), and
    * one file per touched partition per operation is the layout the
    * partition-scoped compaction expects. Unpartitioned tables keep the
    * input's partitioning. */
  private def aligned(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df else df.repartition(cols.map(col): _*)

  /** A filter selecting the partitions `rows` fall in (one `isin` per
    * value prefix), `lit(true)` for an unpartitioned table, None when
    * `rows` is empty. Collected: bounded by the batch's partition
    * spread. */
  private def partitionFilter(rows: DataFrame, cols: Seq[String])
      : Option[Column] =
    if (cols.isEmpty) Some(lit(true))
    else {
      val tuples = rows.select(cols.map(col): _*).distinct().collect()
        .map(_.toSeq)
      if (tuples.isEmpty) None
      else Some(tuples.groupBy(_.init).toSeq.map { case (prefix, ts) =>
        val inLast = col(cols.last).isin(ts.map(_.last): _*)
        cols.init.zip(prefix).foldLeft(inLast) {
          case (acc, (c, v)) => acc && col(c) === v
        }
      }.reduce(_ || _))
    }
}
