package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Manifest

/** Tombstone-fraction metrics + compaction policy for the persisted
  * index families. Logical deletes are free until they aren't: every
  * probe pays a broadcast anti-join against the sidecar, and nothing
  * in the maintenance layer previously measured how much logical-
  * delete debt an index carried or said "compact now". One cheap
  * aggregate per index closes that: row count of the family's
  * one-row-per-member rows ([[PersistedIndex.Family.member]] — a
  * parquet metadata count, no column data read), sidecar
  * cardinality, their ratio, and a threshold recommendation. The
  * default threshold is 10% — at that fraction a probe's candidate
  * rows are ~10% dead weight scanned-then-dropped,
  * and the sidecar broadcast has grown 10% of membership; the
  * tradeoff is priced empirically at 0/10/50% dead fractions in
  * BASELINE.md ("Tombstone-debt pricing", round 14). Emitted by
  * `graft.CurateMain --index-health`. */
object IndexHealth {

  /** Recommend compaction at ≥10% tombstoned (e6 fraction). */
  val DefaultCompactThresholdE6 = 100000L

  private def families = Seq(Dedup.MinhashFamily, Similarity.IvfFamily,
    Similarity.IvfPqFamily, Similarity.SignBandFamily)

  /** One row for one index:
    * (family, live_rows, tombstoned_rows, tombstone_frac_e6,
    * compact_recommended). `live_rows` counts members still servable
    * (total minus tombstoned); `tombstone_frac_e6` is
    * tombstoned/total membership. All columns int64 except family. */
  def tombstoneReport(
      spark: SparkSession, dir: String, family: String,
      thresholdE6: Long = DefaultCompactThresholdE6): DataFrame = {
    import spark.implicits._
    val fam = families.find(_.name == family).getOrElse(
      throw new IllegalArgumentException(
        s"unknown index family '$family' " +
          s"(expected one of ${families.map(_.name).sorted})"))
    // one snapshot: the member count and the sidecar must describe
    // the same index state
    val snap = Manifest.snapshot(dir)
    val member = spark.read.parquet(snap.path(fam.member))
      .where(fam.memberRows)
    val total = member.count()
    // tombstoned = sidecar ∩ MEMBERS (one broadcast semi-join on the
    // member scan): raw sidecar cardinality can exceed membership —
    // a takedown pipeline re-sending a delete for an id a compaction
    // already removed appends a non-member id — and would drive
    // live_rows negative / fire the policy on an index with no real
    // debt
    val tombstoned = PersistedIndex.tombstonesOf(spark, snap)
      .map(t => member.join(broadcast(t), Seq("id"), "left_semi").count())
      .getOrElse(0L)
    val fracE6 =
      if (total == 0L) 0L else tombstoned * 1000000L / total
    Seq((family, total - tombstoned, tombstoned, fracE6,
      if (fracE6 >= thresholdE6) 1L else 0L))
      .toDF("family", "live_rows", "tombstoned_rows",
        "tombstone_frac_e6", "compact_recommended")
  }
}
