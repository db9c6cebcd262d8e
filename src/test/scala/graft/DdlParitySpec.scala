package graft

import graft.sink.ClickHouseDdl

/** Schema-drift gate against the reference deployment contract: the
  * eight CREATE TABLE statements in the test resource
  * `reference_ddl.sql` (including the `alter table actions modify
  * column action` enum extension) parsed into (column, type) order +
  * PRIMARY KEY/ORDER BY, diffed column-by-column against what
  * [[ClickHouseDdl]] generates from the LIVE engine StructTypes. A
  * renamed/reordered/retyped column in the ETL, a metadata edit in the
  * emitter, or a reference contract change all fail here with a
  * per-column message.
  */
class DdlParitySpec extends SparkSpec {

  private case class Table(
      cols: Seq[(String, String)], pk: Seq[String], ob: Seq[String])

  /** Parse every CREATE TABLE block of the reference contract: column
    * lines are `name Type COMMENT '…'` (INDEX lines skipped), the
    * trailer carries PRIMARY KEY and ORDER BY. Applies the `alter
    * table <t> modify column <c> <Type>` lines that follow — the
    * reference evolves the action enum that way. */
  private def parseReference(): Map[String, Table] = {
    val src = scala.io.Source.fromResource("reference_ddl.sql")(
      scala.io.Codec.UTF8)
    val text = try src.mkString finally src.close()
    val create =
      """(?s)CREATE TABLE (\w+)\s*\((.*?)\)\s*ENGINE\s*=\s*\w+\s*PRIMARY KEY \(([^)]*)\)\s*ORDER BY \(([^)]*)\)""".r
    val colLine = """^\s*(\w+)\s+(.+?)\s+COMMENT\s+'""".r
    val tables = create.findAllMatchIn(text).map { m =>
      val cols = m.group(2).linesIterator.flatMap { line =>
        if (line.trim.startsWith("INDEX")) None
        else colLine.findFirstMatchIn(line).map { cm =>
          cm.group(1) -> cm.group(2).trim.stripSuffix(",")
        }
      }.toSeq
      val keys = (s: String) => s.split(",").map(_.trim).toSeq
      m.group(1) -> Table(cols, keys(m.group(3)), keys(m.group(4)))
    }.toMap
    val alter =
      """alter table (\w+) modify column (\w+) (Enum\([^)]*\))""".r
    alter.findAllMatchIn(text).foldLeft(tables) { (acc, am) =>
      val t = acc(am.group(1))
      acc + (am.group(1) -> t.copy(cols = t.cols.map {
        case (n, _) if n == am.group(2) => n -> am.group(3)
        case other => other
      }))
    }
  }

  test("generated DDL matches the reference contract for all eight " +
    "tables: column names, order, types, nullability, PK, ORDER BY") {
    val ref = parseReference()
    val engine = ClickHouseDdl.engineSchemas(spark)
    assert(engine.map(_._1).toSet === ref.keySet,
      s"table inventory drift: engine=${engine.map(_._1).toSet} " +
        s"reference=${ref.keySet}")
    for ((name, schema) <- engine) {
      val (cols, pk, ob) = ClickHouseDdl.model(name, schema)
      val want = ref(name)
      assert(cols.map(_._1) === want.cols.map(_._1),
        s"$name column names/order drift")
      for (((gn, gt), (wn, wt)) <- cols.zip(want.cols)) {
        // whitespace-insensitive type compare (enum lists span widths)
        assert(gt.replaceAll("\\s+", " ") === wt.replaceAll("\\s+", " "),
          s"$name.$gn type drift: engine=$gt reference=$wt (col $wn)")
      }
      assert(pk === want.pk, s"$name PRIMARY KEY drift")
      assert(ob === want.ob, s"$name ORDER BY drift")
    }
  }

  test("parser sanity: the reference contract has the expected shape") {
    val ref = parseReference()
    assert(ref.size === 8)
    assert(ref("actions").cols.size === 39)
    assert(ref("actions").cols.head === ("block_height" -> "UInt64"))
    // the ALTER applied: 14 action kinds, not the original 10
    val actionEnum = ref("actions").cols.find(_._1 == "action").get._2
    assert(actionEnum.contains("USE_GLOBAL_CONTRACT_BY_ACCOUNT_ID"))
    assert(ref("blocks").cols.map(_._1).last === "protocol_version")
  }

  test("rendered statements parse back to the same model (round-trip)") {
    val engine = ClickHouseDdl.engineSchemas(spark)
    val ddl = ClickHouseDdl.allDdl(spark)
    assert(
      """CREATE TABLE (\w+)""".r.findAllMatchIn(ddl).map(_.group(1)).toSeq
        === engine.map(_._1))
    // every generated statement carries its ReplacingMergeTree trailer
    assert("""ENGINE = ReplacingMergeTree""".r
      .findAllMatchIn(ddl).size === 8)
  }
}
