package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Migrate, TaskModes, TransferdbConfig}
import graft.streaming.Cdc

/** The reference's example config values (mirroring
  * `example/config.toml`'s cited lines) must land in the engine's
  * knobs — including the equivalences the engine hard-codes as its
  * envelope: the sink's bind-group size IS `insert-batch-size`, and
  * the s8c dialect constants ARE the example's `[csv]` dialect after
  * real escape processing.
  */
class ConfigSpec extends AnyFunSuite {

  // the shared mirror of example/config.toml:19-160 (kebab keys,
  // literal vs basic strings, inline arrays, comments — including '#'
  // INSIDE a quoted value) — the same text the task-mode dispatch
  // defaults to, so what this spec pins is what graft.Main runs
  private val example = graft.operators.TaskModes.ExampleConfig

  test("reference example config parses into the engine knobs") {
    val k = TransferdbConfig.knobs(example)
    assert(k.insertBatchSize == 100)
    assert(k.fullChunkSize == 100000L)
    assert(k.compareChunkSize == 50000L)
    assert(!k.onlyCheckRows)
    assert(k.fixSqlDir.contains("/users/marvin/gostore/transferdb/data"))
    assert(k.sourceSchema == "marvin" && k.targetSchema == "marvin")
    assert(k.includeTables == Seq("kp") && k.excludeTables.isEmpty)
    assert(k.lowerCaseFieldName == "2")
    assert(k.csv.header && k.csv.escapeBackslash)
    assert(k.csv.delimiter == "\"" &&
      k.csv.nullValue == "NULL" && k.csv.rows == 100000L)
    // artifact-dir knobs + the F11 case-mode mapping
    assert(k.checkSqlDir.contains("/users/marvin/gostore/transferdb/data"))
    assert(k.ddlReverseDir.contains("/users/marvin/gostore/transferdb/data"))
    assert(k.ddlCompatibleDir
      .contains("/users/marvin/gostore/transferdb/data"))
    assert(k.caseMode == "upper") // lower-case-field-name = "2"
  }

  test("array-of-tables blocks parse into per-table configs") {
    // the commented-out example blocks (example/config.toml:150-170),
    // uncommented — the reference's per-table custom compare/migrate
    val text = TaskModes.ExampleConfig +
      """
        |[[schema-config.compare-config]]
        |source-table = "marvin"
        |index-fields = "id"
        |range = "age > 10 AND age < 20"
        |[[schema-config.compare-config]]
        |source-table = "steven"
        |index-fields = "sid"
        |[[schema-config.migrate-config]]
        |source-table = "marvin"
        |enable-split = true
        |range = "age > 10 AND age < 20"
        |sql-hint = "/*+ PARALLEL(8) */"
        |""".stripMargin
    val k = TransferdbConfig.knobs(text)
    assert(k.compareConfigs.size == 2)
    assert(k.compareConfigFor("MARVIN").get.range ==
      "age > 10 AND age < 20")
    assert(k.compareConfigFor("steven").get.indexFields == "sid")
    assert(k.compareConfigFor("nobody").isEmpty)
    val m = k.migrateConfigFor("marvin").get
    assert(m.enableSplit && m.range.nonEmpty)
    // a [section] after an array entry returns the sink to sections
    val mixed = TransferdbConfig.parseFull(
      "[[a.b]]\nx = 1\n[c]\ny = 2\n")
    assert(mixed._2("a.b") == Seq(Map("x" -> 1L)))
    assert(mixed._1("c")("y") == 2L)
  }

  test("malformed values fail loudly, quoted commas stay one item") {
    // unterminated literal/basic strings and arrays raise a parse
    // error naming the value — not StringIndexOutOfBounds
    for (bad <- Seq("[x]\na = 'oops\n", "[x]\na = \"oops\n",
        "[x]\na = ['a', 'b'\n"))
      assertThrows[IllegalArgumentException](TransferdbConfig.parse(bad))
    // a quoted array item containing a comma is ONE item
    val p = TransferdbConfig.parse("[x]\na = ['a,b', 'c']\n")
    assert(p("x")("a") == Seq("a,b", "c"))
    // an item ending in an ESCAPED backslash closes its quote — the
    // following items must survive (escape parity, not prev-char)
    val esc = TransferdbConfig.parse(
      "[x]\na = [\"tab\\\\\", \"other\"]\n")
    assert(esc("x")("a") == Seq("tab\\", "other"), esc("x")("a").toString)
    // non-positive batch/chunk knobs fail at parse time, naming the key
    for (bad <- Seq("[app]\ninsert-batch-size = 0\n",
        "[full]\nchunk-size = -5\n", "[csv]\nrows = 0\n"))
      assert(intercept[IllegalArgumentException](
        TransferdbConfig.knobs(bad)).getMessage.contains("must be positive"))
  }

  test("csv.charset other than UTF-8 fails at parse time") {
    // the csv writer emits UTF-8 only: GBK must not be accepted and
    // then written as UTF-8
    for (ok <- Seq("UTF8MB4", "utf8", "Utf8mb4"))
      TransferdbConfig.knobs(s"[csv]\ncharset = \"$ok\"\n")
    for (bad <- Seq("GBK", "latin1", ""))
      assert(intercept[IllegalArgumentException](
        TransferdbConfig.knobs(s"[csv]\ncharset = \"$bad\"\n"))
        .getMessage.contains("csv.charset"), bad)
  }

  test("engine envelope constants equal the reference example's values") {
    val k = TransferdbConfig.knobs(example)
    // the sink's bind-group size IS app.insert-batch-size
    // (translate.go:34-145 batches by that config; BASELINE.md row 1)
    assert(k.insertBatchSize == Cdc.ReplaceRowsPerStmt)
    // the s8c dialect IS the example's [csv] dialect — with the
    // terminator's \r\n arriving as REAL CR LF through basic-string
    // escape processing, and the '#' inside the single-quoted
    // separator surviving quote-aware comment handling
    assert(k.csv.separator == Migrate.DialectSep)
    assert(k.csv.terminator == Migrate.DialectTerm)
    assert(k.csv.terminator.endsWith("\r\n"))
  }

  test("value forms: literal vs basic strings, bare scalars, comments") {
    val p = TransferdbConfig.parse(example)
    assert(p("app")("pprof-port") == ":9696")
    assert(p("app")("slowlog-threshold") == 1024L)
    // inline comment after a bare scalar is stripped
    assert(p("full")("chunk-size") == 100000L)
    // literal string keeps backslashes un-processed; basic processes
    val esc = TransferdbConfig.parse(
      "[x]\na = '\\r'\nb = \"\\r\"\n")
    assert(esc("x")("a") == "\\r" && esc("x")("b") == "\r")
  }
}
