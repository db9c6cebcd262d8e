package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** A generated corpus directory: `blocks/<height>.json` documents,
  * `truth.json` (the generator's ground truth) and `lookups.jsonl`
  * (the explorer's lookup mix with expected answers). A corpus written
  * with a backlog keeps the documents after it in `staging/`. */
final class Corpus(val dir: Path) {
  val docsDir: Path = dir.resolve("blocks")
  val stagingDir: Path = dir.resolve("staging")
  val truth: JsonNode = Harness.parseJson(Files.readString(dir.resolve("truth.json")))
  private def backlog = truth.get("backlog")

  private def longs(field: String): Array[Long] =
    truth.get(field).elements().asScala.map(_.asLong).toArray

  /** Heights of the real blocks, ascending. */
  val heights: Array[Long] = longs("heights")
  val corruptHeights: Array[Long] = longs("corrupt_heights")
  /** Every document height (blocks and corrupt documents), ascending. */
  val docHeights: Array[Long] = (heights ++ corruptHeights).sorted

  def rows(table: String): Long = truth.get("rows").get(table).asLong
  def completed: Long = truth.get("completed").asLong
  def inputBytes: Long = truth.get("input_bytes").asLong

  /** The backlog: the real blocks in `blocks/`, their actions-mode rows
    * and quarantine count, and their input bytes. */
  def backlogHeights: Array[Long] =
    heights.takeWhile(_ <= backlog.get("last_height").asLong)
  def backlogRows(table: String): Long = backlog.get("rows").get(table).asLong
  def backlogInputBytes: Long = backlog.get("input_bytes").asLong
  def params: JsonNode = truth.get("params")

  /** Real block heights in (from, to]. */
  def blocksIn(from: Long, to: Long): Long = {
    def upper(x: Long) = {
      val i = java.util.Arrays.binarySearch(heights, x)
      if (i >= 0) i + 1 else -i - 1
    }
    math.max(0L, (upper(to) - upper(from)).toLong)
  }

  def lookups: IndexedSeq[Lookup] = {
    val f = dir.resolve("lookups.jsonl")
    if (!Files.exists(f)) IndexedSeq.empty
    else Files.readAllLines(f).asScala.toIndexedSeq.map { line =>
      val n = Harness.parseJson(line)
      Lookup(n.get("kind").asText, n.get("key").asText,
        n.get("expect").elements().asScala.map(
          _.elements().asScala.map(_.asText).toSeq).toSeq)
    }
  }
}

/** One explorer lookup and the rows the generator expects, as strings. */
final case class Lookup(kind: String, key: String, expect: Seq[Seq[String]])
