package graft.operators

/** The reference's user-facing configuration contract
  * (`example/config.toml`, struct `config/config.go:178-341`) mapped
  * onto this engine's knobs, so a transferdb user's existing config
  * file carries over. Two pieces:
  *
  *  - a minimal TOML-subset parser covering exactly the shapes that
  *    file uses: `[section]` headers, `key = value` with literal
  *    (single-quoted, no escapes — how the reference writes
  *    `separator = '|#|'`), basic (double-quoted with `\r \n \t \\ \"`
  *    escapes — how it writes `terminator = "|+|\r\n"`), integer,
  *    boolean, and string-array values, and `#` comments OUTSIDE
  *    quotes (the separator value itself contains `#`, so comment
  *    stripping must be quote-aware);
  *  - [[EngineKnobs]], the typed mapping: batch sizes to the sink's
  *    bind-group size, chunk sizes to the chunk planners, the CSV
  *    dialect to the s8c renderer, compare switches to the fast/full
  *    paths, schema + include/exclude lists to the table-glob filter,
  *    and the reverse case rule to identifier folding (F11).
  *
  * ConfigSpec parses the reference's own example values and pins the
  * equivalences — including that [[graft.streaming.Cdc
  * .ReplaceRowsPerStmt]] IS `app.insert-batch-size = 100`
  * (`config.toml:22`) and the s8c dialect constants ARE the example's
  * `[csv]` separator/terminator after real escape processing.
  */
object TransferdbConfig {

  /** section → key → String | Long | Boolean | Seq[String]. Keys and
    * sections keep the reference's kebab-case spelling.
    */
  def parse(text: String): Map[String, Map[String, Any]] =
    parseFull(text)._1

  /** Full parse: plain `[section]`s plus `[[array.of.tables]]`
    * entries (the reference's per-table custom blocks,
    * `config.go:122-138`: `[[schema-config.compare-config]]` /
    * `[[schema-config.migrate-config]]` — each occurrence appends one
    * table map under its dotted name).
    */
  def parseFull(text: String): (Map[String, Map[String, Any]],
      Map[String, Seq[Map[String, Any]]]) = {
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, Any]]
    val arrays = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[
        scala.collection.mutable.LinkedHashMap[String, Any]]]
    var section = ""
    // the map currently receiving `key = value` lines: a plain
    // section, or the latest entry of an array-of-tables
    var sink: scala.collection.mutable.LinkedHashMap[String, Any] =
      scala.collection.mutable.LinkedHashMap.empty
    out(section) = sink
    for (raw <- text.linesIterator) {
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#")) {
        if (line.startsWith("[[")) {
          val name = line.stripPrefix("[[").takeWhile(_ != ']').trim
          val entry =
            scala.collection.mutable.LinkedHashMap.empty[String, Any]
          arrays.getOrElseUpdate(name,
            scala.collection.mutable.ArrayBuffer.empty) += entry
          sink = entry
        } else if (line.startsWith("[")) {
          section = line.stripPrefix("[").takeWhile(_ != ']').trim
          sink = out.getOrElseUpdate(section,
            scala.collection.mutable.LinkedHashMap.empty)
        } else line.indexOf('=') match {
          case -1 => // tolerated: the reference file has none of these
          case eq =>
            val key = line.substring(0, eq).trim
            sink(key) = parseValue(line.substring(eq + 1).trim)
        }
      }
    }
    (out.map { case (s, kv) => s -> kv.toMap }.toMap,
      arrays.map { case (n, es) => n -> es.map(_.toMap).toSeq }.toMap)
  }

  private def parseValue(v: String): Any = v.headOption match {
    case Some('\'') => // literal string: no escapes, ends at next '
      val close = v.indexOf('\'', 1)
      // unterminated quote: fail with the offending text, not a
      // StringIndexOutOfBounds from substring(1, -1) — this parser
      // accepts arbitrary user config files
      if (close < 0)
        throw new IllegalArgumentException(
          s"unterminated literal string in config value: $v")
      v.substring(1, close)
    case Some('"') =>
      val (s, consumed) = unescapeBasic(v)
      if (consumed > v.length || v.lift(consumed - 1) != Some('"'))
        throw new IllegalArgumentException(
          s"unterminated basic string in config value: $v")
      s
    case Some('[') => // string array (the include/exclude lists)
      val end = v.lastIndexOf(']')
      if (end < 0)
        throw new IllegalArgumentException(
          s"unterminated array in config value: $v")
      val inner = v.substring(1, end).trim
      if (inner.isEmpty) Seq.empty[String]
      else splitTopLevel(inner).map(_.trim).map { item =>
        parseValue(item) match { case s: String => s
          case other => other.toString }
      }
    case _ =>
      // bare scalar runs to a comment or EOL
      val bare = v.takeWhile(_ != '#').trim
      if (bare == "true") true
      else if (bare == "false") false
      else bare.toLongOption.getOrElse(bare)
  }

  /** Split an array body on commas OUTSIDE quotes — a quoted item
    * containing a comma (`['a,b', 'c']`) is one item, not two.
    */
  private def splitTopLevel(inner: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quote: Char = 0
    // run-length of consecutive backslashes IMMEDIATELY before the
    // current char: a double-quote is escaped only under an ODD run
    // ("tab\\" ends in a literal backslash and the quote CLOSES;
    // the naive prev-char check dropped every item after it)
    var bsRun = 0
    var i = 0
    while (i < inner.length) {
      val c = inner(i)
      val escaped = quote == '"' && bsRun % 2 == 1
      if (quote == 0 && (c == '\'' || c == '"')) { quote = c; cur += c }
      else if (quote != 0 && c == quote && !escaped) { quote = 0; cur += c }
      else if (quote == 0 && c == ',') { out += cur.toString; cur.clear() }
      else cur += c
      bsRun = if (c == '\\') bsRun + 1 else 0
      i += 1
    }
    out += cur.toString
    out.toSeq
  }

  /** Basic (double-quoted) string with the escapes the reference's
    * values use; returns (value, chars consumed).
    */
  private def unescapeBasic(v: String): (String, Int) = {
    val sb = new StringBuilder
    var i = 1
    while (i < v.length && v(i) != '"') {
      if (v(i) == '\\' && i + 1 < v.length) {
        sb += (v(i + 1) match {
          case 'r' => '\r'
          case 'n' => '\n'
          case 't' => '\t'
          case '\\' => '\\'
          case '"' => '"'
          case c => c
        })
        i += 2
      } else { sb += v(i); i += 1 }
    }
    (sb.toString, i + 1)
  }

  /** The `[csv]` dialect block (`config.toml:66-80`) — the knobs the
    * s8c renderer implements. `charset` is not a field: the writer
    * emits UTF-8 only, so [[knobs]] rejects any other value.
    */
  final case class CsvDialect(header: Boolean, separator: String,
      terminator: String, delimiter: String,
      nullValue: String, escapeBackslash: Boolean, rows: Long)

  /** Per-table compare customization (`config.go:128-132`,
    * consumed by `module/compare/oracle/o2m/chunk.go:71-106`):
    * priority is only-check-rows > range > index-fields > the
    * auto-elected numeric key; `range` compares ONLY the predicated
    * rows as one chunk, `index-fields` swaps the split column.
    */
  final case class CompareTableConfig(sourceTable: String,
      indexFields: String, range: String)

  /** Per-table migrate customization (`config.go:134-138`, consumed
    * by `full.go:655-703`): `range` restricts the export,
    * `enable-split = false` forces a single chunk. The reference's
    * `sql-hint` is an Oracle-side scan hint with no Spark analogue
    * (the scheduler owns scan parallelism), so it is not read.
    */
  final case class MigrateTableConfig(sourceTable: String,
      enableSplit: Boolean, range: String)

  /** Per-table TiDB clustered-index routing (`config.go:140-151`,
    * consumed by `module/reverse/oracle/o2t/rule.go:230-400`): tables
    * in a `[[schema-config.struct-nonclustered-config]]` block take
    * that block's table-option; everything else takes
    * `global-table-option` (clustered tables take none).
    */
  final case class NonclusteredConfig(sourceTables: Seq[String],
      tableOption: String)

  /** The engine-relevant projection of a reference config. Threads/
    * pool counts are deliberately ABSENT: on Spark those are the
    * cluster scheduler's job (executor/core counts), not per-operator
    * worker pools — the knobs that survive the port are the semantic
    * ones.
    */
  final case class EngineKnobs(
      insertBatchSize: Int, fullChunkSize: Long,
      compareChunkSize: Long, onlyCheckRows: Boolean,
      fixSqlDir: Option[String],
      checkSqlDir: Option[String], ddlReverseDir: Option[String],
      ddlCompatibleDir: Option[String],
      csv: CsvDialect, sourceSchema: String, targetSchema: String,
      includeTables: Seq[String], excludeTables: Seq[String],
      lowerCaseFieldName: String,
      compareConfigs: Seq[CompareTableConfig] = Seq.empty,
      migrateConfigs: Seq[MigrateTableConfig] = Seq.empty,
      fullConsistentRead: Boolean = false,
      csvConsistentRead: Boolean = false,
      logminerQueryTimeout: Int = 300,
      oracleCharset: String = "AL32UTF8",
      globalTableOption: String = "",
      nonclusteredConfigs: Seq[NonclusteredConfig] = Seq.empty,
      clusteredTables: Seq[String] = Seq.empty) {
    /** TiDB table-option for a table under the o2t routing: an
      * explicitly clustered table takes none; a nonclustered-config
      * member takes its block's option; default = the global option.
      */
    def tidbTableOption(table: String): String =
      if (clusteredTables.exists(_.equalsIgnoreCase(table))) ""
      else nonclusteredConfigs
        .find(_.sourceTables.exists(_.equalsIgnoreCase(table)))
        .map(_.tableOption).getOrElse(globalTableOption)
    /** Case-insensitive per-table lookup, the reference's
      * `strings.EqualFold` match (first entry wins).
      */
    def compareConfigFor(table: String): Option[CompareTableConfig] =
      compareConfigs.find(_.sourceTable.equalsIgnoreCase(table))
    def migrateConfigFor(table: String): Option[MigrateTableConfig] =
      migrateConfigs.find(_.sourceTable.equalsIgnoreCase(table))
    /** `lower-case-field-name` → [[graft.reverse.Ddl.foldCase]] mode
      * (`config.go:147`: "0" origin, "1" lower, "2" upper).
      */
    def caseMode: String = lowerCaseFieldName match {
      case "1" => "lower"
      case "2" => "upper"
      case _ => "origin"
    }
  }

  def knobs(text: String): EngineKnobs = {
    val (c, arrays) = parseFull(text)
    def entryStr(e: Map[String, Any], k: String): String =
      e.get(k).map(_.toString).getOrElse("")
    val cmpCfgs = arrays.getOrElse("schema-config.compare-config", Seq.empty)
      .map(e => CompareTableConfig(entryStr(e, "source-table"),
        entryStr(e, "index-fields"), entryStr(e, "range")))
      .filter(_.sourceTable.nonEmpty)
    val migCfgs = arrays.getOrElse("schema-config.migrate-config", Seq.empty)
      .map(e => MigrateTableConfig(entryStr(e, "source-table"),
        e.get("enable-split") match {
          case Some(b: Boolean) => b
          case _ => true
        }, entryStr(e, "range")))
      .filter(_.sourceTable.nonEmpty)
    def sec(s: String) = c.getOrElse(s, Map.empty)
    def str(s: String, k: String, d: String): String =
      sec(s).get(k).map(_.toString).getOrElse(d)
    def long(s: String, k: String, d: Long): Long = sec(s).get(k) match {
      case Some(l: Long) => l
      case _ => d
    }
    def bool(s: String, k: String, d: Boolean): Boolean =
      sec(s).get(k) match {
        case Some(b: Boolean) => b
        case _ => d
      }
    def arr(s: String, k: String): Seq[String] = sec(s).get(k) match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case _ => Seq.empty
    }
    val nonclustered = arrays
      .getOrElse("schema-config.struct-nonclustered-config", Seq.empty)
      .map { e =>
        val tabs = e.get("source-table") match {
          case Some(xs: Seq[_]) => xs.map(_.toString)
          case Some(v) => Seq(v.toString)
          case None => Seq.empty
        }
        NonclusteredConfig(tabs, entryStr(e, "nonclustered-table-option"))
      }
      .filter(_.sourceTables.nonEmpty)
    val clustered = c.getOrElse("schema-config.struct-clustered-config",
        Map.empty).get("source-table") match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case Some(v) => Seq(v.toString)
      case None => Seq.empty
    }
    // fail at PARSE time with the offending key, not deep inside a
    // sink/planner with a malformed statement or a require(chunkRows>0)
    def positive(v: Long, key: String): Long = {
      require(v > 0, s"config key $key must be positive, got $v")
      v
    }
    // the csv writer emits UTF-8 only: any other charset would be
    // written as UTF-8 silently
    val csvCharset = str("csv", "charset", "UTF8MB4")
    require(Set("UTF8MB4", "UTF8")(csvCharset.toUpperCase),
      s"config key csv.charset must be UTF8MB4 or UTF8 (the csv writer " +
        s"emits UTF-8 only), got $csvCharset")
    EngineKnobs(
      insertBatchSize = positive(
        long("app", "insert-batch-size", 100L), "app.insert-batch-size").toInt,
      fullChunkSize = positive(
        long("full", "chunk-size", 100000L), "full.chunk-size"),
      compareChunkSize = positive(
        long("compare", "chunk-size", 50000L), "compare.chunk-size"),
      onlyCheckRows = bool("compare", "only-check-rows", d = false),
      fixSqlDir = sec("compare").get("fix-sql-dir").map(_.toString),
      checkSqlDir = sec("check").get("check-sql-dir").map(_.toString),
      ddlReverseDir = sec("reverse").get("ddl-reverse-dir").map(_.toString),
      ddlCompatibleDir =
        sec("reverse").get("ddl-compatible-dir").map(_.toString),
      csv = CsvDialect(
        header = bool("csv", "header", d = true),
        separator = str("csv", "separator", ","),
        terminator = str("csv", "terminator", "\r\n"),
        delimiter = str("csv", "delimiter", "\""),
        nullValue = str("csv", "null-value", "NULL"),
        escapeBackslash = bool("csv", "escape-backslash", d = true),
        rows = positive(long("csv", "rows", 100000L), "csv.rows")),
      sourceSchema = str("schema-config", "source-schema", ""),
      targetSchema = str("schema-config", "target-schema", ""),
      includeTables = arr("schema-config", "source-include-table"),
      excludeTables = arr("schema-config", "source-exclude-table"),
      lowerCaseFieldName = str("reverse", "lower-case-field-name", "0"),
      compareConfigs = cmpCfgs,
      migrateConfigs = migCfgs,
      // per-section, NOT merged: [full]'s flag pins the migration's
      // listing, [csv]'s the export's — a flag in one section must
      // not silently change the other mode's behavior.
      // ([mysql].charset is deliberately NOT a knob: the reference
      // documents it as the CONNECTION charset, with DDL charsets
      // auto-adapting from the source matrix — which reverseMode does.)
      fullConsistentRead = bool("full", "consistent-read", d = false),
      csvConsistentRead = bool("csv", "consistent-read", d = false),
      logminerQueryTimeout =
        long("all", "logminer-query-timeout", 300L).toInt,
      oracleCharset = str("oracle", "charset", "AL32UTF8"),
      globalTableOption = str("schema-config", "global-table-option", ""),
      nonclusteredConfigs = nonclustered,
      clusteredTables = clustered)
  }
}
