package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Table-name glob filter (P4) — the reference's include/exclude
  * wildcard filter (`filter/parser.go:45-121`, `filter/filter.go:
  * 28-48`, applied at every mode entry
  * `module/migrate/sql/oracle/public/filter.go:28-100`).
  *
  * Semantics mirrored: `*` → any run, `?` → any char, `[abc]` /
  * `[!abc]` char classes, case-insensitive throughout; literal
  * characters restricted to alnum/$/_/non-ASCII (anything else is a
  * syntax error). Divergence: the reference passes `.` through as a
  * regex any-char (parser.go:66-69) — we escape it to a literal dot,
  * since a dot in a table pattern means a literal dot.
  *
  * Include and exclude lists are mutually exclusive, as in the
  * reference (both-set is a config error, `filter.go:36-44`).
  *
  * Catalog listings are bounded (driver-side `Seq[String]`), but the
  * same compiled pattern also applies as a `Column` predicate so a
  * fleet-scale catalog Dataset (10⁵ tables) filters distributed.
  */
object TableFilter {

  /** One glob → anchored case-insensitive regex. */
  def globToRegex(pat: String): String = {
    val sb = new StringBuilder("(?i)^")
    var i = 0
    while (i < pat.length) {
      pat.charAt(i) match {
        case '*' => sb.append(".*"); i += 1
        case '?' => sb.append("."); i += 1
        case '.' => sb.append("\\."); i += 1
        case '\\' =>
          if (i + 1 >= pat.length)
            throw new IllegalArgumentException(s"dangling escape in [$pat]")
          sb.append("\\").append(pat.charAt(i + 1)); i += 2
        case '[' =>
          val end = pat.indexOf(']', i + 1)
          if (end < 0) throw new IllegalArgumentException(
            s"failed to parse character class in [$pat]")
          val body = pat.substring(i + 1, end)
          if (body.startsWith("!")) sb.append("[^").append(body.drop(1))
          else if (body.startsWith("^")) sb.append("[\\^").append(body.drop(1))
          else sb.append("[").append(body)
          sb.append("]")
          i = end + 1
        case c if c == '$' || c == '_' || c.isLetterOrDigit || c >= 0x80 =>
          if (c == '$') sb.append("\\$") else sb.append(c)
          i += 1
        case c =>
          throw new IllegalArgumentException(
            s"unexpected special character '$c' in [$pat]")
      }
    }
    sb.append("$").toString
  }

  /** Compiled filter. Empty include = match-all (then exclude prunes). */
  final case class Compiled(include: Seq[String], exclude: Seq[String]) {
    private val inc = include.map(globToRegex).map(_.r)
    private val exc = exclude.map(globToRegex).map(_.r)
    def matches(name: String): Boolean =
      (inc.isEmpty || inc.exists(_.matches(name))) &&
        !exc.exists(_.matches(name))
  }

  /** Build, enforcing the reference's mutual exclusion. */
  def compile(include: Seq[String] = Nil, exclude: Seq[String] = Nil)
      : Compiled = {
    require(include.isEmpty || exclude.isEmpty,
      "include-tables and exclude-tables are mutually exclusive")
    Compiled(include, exclude)
  }

  /** The same filter as a distributed Column predicate. */
  def predicate(nameCol: Column, include: Seq[String],
      exclude: Seq[String] = Nil): Column = {
    require(include.isEmpty || exclude.isEmpty,
      "include-tables and exclude-tables are mutually exclusive")
    val incP =
      if (include.isEmpty) lit(true)
      else include.map(p => nameCol.rlike(globToRegex(p))).reduce(_ || _)
    val excP = exclude.map(p => !nameCol.rlike(globToRegex(p)))
      .foldLeft(lit(true))(_ && _)
    incP && excP
  }

  // ------------------------------------------------------------- queries

  private val includePatterns = Seq("[cn]*", "*s", "part")

  /** p4: glob include filter over the table listing — char class,
    * star suffix, and bare literal forms; the oracle reimplements with
    * DuckDB's native GLOB operator.
    */
  def p4TableFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.all.toDF("table_name")
      .filter(predicate(col("table_name"), includePatterns))
  }

  val p4Sql: String = {
    val values = Tables.all.map(t => s"('$t')").mkString(", ")
    val globs = includePatterns
      .map(p => s"table_name GLOB '$p'").mkString(" OR ")
    s"""SELECT table_name FROM (VALUES $values) t(table_name)
       |WHERE $globs""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("p4_table_filter", p4TableFilter, p4Sql))
}
