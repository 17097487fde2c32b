package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Tables}

/** Catalog introspection (S5) + catalog-driven assess reports (A6
  * family) — the reference's dictionary scans
  * (`database/oracle/assess.go:23-668`,
  * `database/oracle/reverse.go:516-656`) recast over parquet footers:
  * the `CatalogSnapshot` Dataset is our `dba_tab_columns`.
  *
  * Schema introspection reads footers only (no data I/O); the
  * data-profiling reports are single-pass aggregates melted to rows —
  * at 100 TB each is one scan with partial aggregation, never one
  * scan per column.
  */
object Catalog {

  /** Canonical engine-neutral type names for the snapshot. */
  def canonicalType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INT"
    case ShortType => "SMALLINT"
    case ByteType => "TINYINT"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case StringType => "STRING"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case BinaryType => "BINARY"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case ArrayType(e, _) => s"ARRAY<${canonicalType(e)}>"
    case other => other.sql
  }

  /** The catalog snapshot: one row per column across all tables.
    * Nullability is normalized to TRUE — parquet optional/required is
    * a writer artifact, not catalog truth (the reference reads
    * NULLABLE from `dba_tab_columns`; a JDBC-backed snapshot would
    * carry it through).
    */
  def snapshot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.all.flatMap { t =>
      // memoized footer schema — one listing per (dir, table) per JVM,
      // not per snapshot call (the k2/check/reverse paths all re-ask)
      Tables.schemaOf(s, d, t).fields.zipWithIndex.map {
        case (f, i) => (t, i + 1, f.name, canonicalType(f.dataType), true)
      }
    }.toDF("table_name", "ordinal", "column_name", "data_type", "nullable")
  }

  /** JDBC-backed catalog snapshot (S5's live-dictionary half — the
    * reference reads `dba_tab_columns` / `information_schema.columns`
    * directly, `database/oracle/reverse.go:516-656`,
    * `database/mysql/reverse.go:187-439`): one `DatabaseMetaData`
    * column listing per table, normalized to the same snapshot shape
    * as the parquet-footer path so check/reverse consume either
    * source unchanged. Catalog reads are bounded driver-side metadata
    * (one row per column, same as the reference's dictionary query) —
    * the DATA path stays distributed.
    *
    * Char/decimal forms carry their width (`VARCHAR(32)`); other
    * widths are driver-internal and dropped, matching the s9c
    * read-back convention.
    */
  def snapshotJdbc(s: SparkSession, url: String,
      tables: Seq[String]): DataFrame = {
    import s.implicits._
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val md = conn.getMetaData
      tables.flatMap { t =>
        val rs = md.getColumns(null, null, t.toUpperCase, null)
        val buf = Seq.newBuilder[(String, Int, String, String, Boolean)]
        while (rs.next()) {
          val tn = rs.getString("TYPE_NAME")
          val dt =
            if (Set("VARCHAR", "CHAR", "DECIMAL", "NUMERIC")(tn))
              s"$tn(${rs.getInt("COLUMN_SIZE")})"
            else tn
          buf += ((t.toLowerCase, rs.getInt("ORDINAL_POSITION"),
            rs.getString("COLUMN_NAME").toLowerCase, dt,
            rs.getString("IS_NULLABLE") == "YES"))
        }
        rs.close()
        buf.result()
      }.toDF("table_name", "ordinal", "column_name", "data_type",
        "nullable")
    } finally conn.close()
  }

  /** The snapshot the oracle expects — TESTDATA.md's schema pinned as
    * VALUES. Doubles as the introspection regression check: if a
    * reader change shifts a type (e.g. events.ts nanos handling), k2
    * hash-mismatches.
    */
  val catalogValuesSql: String = {
    val rows = Seq(
      ("region", Seq("r_regionkey" -> "INT", "r_name" -> "STRING")),
      ("nation", Seq("n_nationkey" -> "INT", "n_name" -> "STRING",
        "n_regionkey" -> "INT")),
      ("customer", Seq("c_custkey" -> "BIGINT", "c_name" -> "STRING",
        "c_nationkey" -> "INT", "c_acctbal" -> "DOUBLE",
        "c_mktsegment" -> "STRING")),
      ("supplier", Seq("s_suppkey" -> "BIGINT", "s_name" -> "STRING",
        "s_nationkey" -> "INT", "s_acctbal" -> "DOUBLE")),
      ("part", Seq("p_partkey" -> "BIGINT", "p_name" -> "STRING",
        "p_brand" -> "STRING", "p_type" -> "STRING", "p_size" -> "INT",
        "p_retailprice" -> "DOUBLE")),
      ("orders", Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
        "o_orderstatus" -> "STRING", "o_totalprice" -> "DOUBLE",
        "o_orderdate" -> "TIMESTAMP", "o_orderpriority" -> "STRING")),
      ("lineitem", Seq("l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT",
        "l_suppkey" -> "BIGINT", "l_linenumber" -> "INT",
        "l_quantity" -> "DOUBLE", "l_extendedprice" -> "DOUBLE",
        "l_discount" -> "DOUBLE", "l_tax" -> "DOUBLE",
        "l_returnflag" -> "STRING", "l_linestatus" -> "STRING",
        "l_shipdate" -> "TIMESTAMP")),
      ("events", Seq("event_id" -> "BIGINT", "ts" -> "TIMESTAMP",
        "user_id" -> "BIGINT", "event_type" -> "STRING",
        "value" -> "DOUBLE", "props" -> "STRING")),
      ("documents", Seq("doc_id" -> "BIGINT", "text" -> "STRING",
        "lang" -> "STRING", "source" -> "STRING", "n_chars" -> "BIGINT")),
      ("embeddings", Seq("vec_id" -> "BIGINT",
        "embedding" -> "ARRAY<FLOAT>", "label" -> "INT")))
    val values = rows.flatMap { case (t, cols) =>
      cols.zipWithIndex.map { case ((c, ty), i) =>
        s"('$t', ${i + 1}, '$c', '$ty', TRUE)"
      }
    }.mkString(",\n  ")
    s"""cat(table_name, ordinal, column_name, data_type, nullable) AS (VALUES
       |  $values)""".stripMargin
  }

  // ------------------------------------------------------------- queries

  /** k2: the introspected snapshot itself, hash-checked against the
    * pinned schema.
    */
  def k2CatalogSnapshot(s: SparkSession, d: String): DataFrame =
    snapshot(s, d)

  val k2Sql: String =
    s"""WITH $catalogValuesSql
       |SELECT table_name, ordinal, column_name, data_type, nullable
       |FROM cat""".stripMargin

  /** a10: column-type distribution across the schema (assess family:
    * `AssessOracle*ColumnTypeCompatible`, `assess_result.go:634-1402`).
    */
  def a10ColumnTypeDist(s: SparkSession, d: String): DataFrame =
    snapshot(s, d).groupBy("data_type")
      .agg(count(lit(1)).as("n_columns"),
        countDistinct(col("table_name")).as("n_tables"))

  val a10Sql: String =
    s"""WITH $catalogValuesSql
       |SELECT data_type, count(*) AS n_columns,
       |       count(DISTINCT table_name) AS n_tables
       |FROM cat GROUP BY 1""".stripMargin

  /** Statistics row counts (A4) — the reference trusts optimizer
    * stats (`NVL(NUM_ROWS,0) FROM dba_tables`,
    * `database/oracle/compare.go:84-103`); the parquet analogue is
    * footer metadata: block row counts summed WITHOUT any Spark job
    * or data I/O. For parquet the "stats" are exact, so a4's oracle
    * can be the true counts.
    */
  def tableStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = s.sparkContext.hadoopConfiguration
    Tables.all.map { t =>
      val p = new Path(s"$d/$t.parquet")
      val fs = p.getFileSystem(conf)
      val parts =
        if (fs.getFileStatus(p).isFile) Seq(fs.getFileStatus(p))
        else fs.listStatus(p).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
      val rows = parts.map { st =>
        val rd = ParquetFileReader
          .open(HadoopInputFile.fromPath(st.getPath, conf))
        try rd.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally rd.close()
      }.sum
      (t, rows, parts.map(_.getLen).sum)
    }.toDF("table_name", "stat_rows", "total_bytes")
  }

  /** a4: footer-stats row counts vs true counts. */
  def a4StatsRowcount(s: SparkSession, d: String): DataFrame =
    tableStats(s, d).select("table_name", "stat_rows")

  val a4Sql: String = Tables.all
    .map(t => s"SELECT '$t' AS table_name, count(*) AS stat_rows FROM $t")
    .mkString("\nUNION ALL ")

  /** a11: per-table row counts (assess overview — the reference reads
    * NVL(NUM_ROWS,0) stats, A4; here exact counts). ONE Spark job for
    * the whole catalog: per-table zero-column count scans unioned into
    * a single plan, instead of one sequential `.count()` action per
    * table — at a 100×-table catalog the sequential loop's wall time
    * is linear in tables (job-submission overhead dominates), the
    * union runs all scans in one wave.
    */
  def a11RowCounts(s: SparkSession, d: String): DataFrame =
    Tables.all.map { t =>
      // global agg, NOT groupBy(lit(t)): a grouped count on an empty
      // table emits zero rows and the table would vanish from the
      // report — the global form emits (t, 0) like the oracle's
      // per-table SELECT count(*)
      Tables.load(s, d, t)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("table_name"), col("n_rows"))
    }.reduce(_.unionAll(_))

  val a11Sql: String = Tables.all
    .map(t => s"SELECT '$t' AS table_name, count(*) AS n_rows FROM $t")
    .mkString("\nUNION ALL ")

  /** a12: NULL-ratio profile of one table, all columns in ONE pass
    * (assess data-profiling family) — sum(isnull) per column in a
    * single agg, melted to rows.
    */
  def a12NullProfile(s: SparkSession, d: String): DataFrame = {
    val t = Tables.load(s, d, "events")
    val cols = t.schema.fieldNames.toSeq
    val aggs = count(lit(1)).as("n_total") +:
      cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"))
    t.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"), col(s"nn_$c").as("n_null"),
          col("n_total"))): _*)).as("kv"))
      .select(col("kv.column_name"), col("kv.n_null"), col("kv.n_total"))
  }

  val a12Sql: String = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value",
      "props")
    // CAST: DuckDB integer sum() yields HUGEINT, which pandas floats
    val sums = cols.map(c =>
      s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_$c")
      .mkString(",\n    ")
    val melt = cols.map(c =>
      s"SELECT '$c' AS column_name, nn_$c AS n_null, n_total FROM t")
      .mkString("\nUNION ALL ")
    s"""WITH t AS (
       |  SELECT count(*) AS n_total,
       |    $sums
       |  FROM events)
       |$melt""".stripMargin
  }

  /** a13: string-width profile (assess avg-row-length family, A7) —
    * min/max/avg length per string column of `documents`, one pass.
    */
  def a13WidthProfile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("text", "lang", "source")
    val t = Tables.load(s, d, "documents")
    val aggs = count(lit(1)).as("n") +: cols.flatMap { c =>
      Seq(min(length(col(c))).as(s"mn_$c"), max(length(col(c))).as(s"mx_$c"),
        sum(length(col(c)).cast("long")).as(s"sm_$c"))
    }
    t.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column_name"), col(s"mn_$c").as("min_len"),
        col(s"mx_$c").as("max_len"),
        (col(s"sm_$c").cast("double") / col("n")).as("avg_len"))): _*))
        .as("kv"))
      .select(col("kv.column_name"), col("kv.min_len"), col("kv.max_len"),
        col("kv.avg_len"))
  }

  val a13Sql: String = {
    val cols = Seq("text", "lang", "source")
    val aggs = cols.flatMap(c => Seq(
      s"min(length($c)) AS mn_$c", s"max(length($c)) AS mx_$c",
      s"sum(length($c)) AS sm_$c")).mkString(",\n    ")
    val melt = cols.map(c =>
      s"SELECT '$c' AS column_name, mn_$c AS min_len, mx_$c AS max_len, " +
        s"CAST(sm_$c AS DOUBLE) / n AS avg_len FROM t")
      .mkString("\nUNION ALL ")
    s"""WITH t AS (SELECT count(*) AS n,
       |    $aggs
       |  FROM documents)
       |$melt""".stripMargin
  }

  /** a14: numeric profile of lineitem measures — min/max/sum rendered
    * as exact DECIMAL strings (cross-engine bit-stable), one pass.
    */
  def a14NumericProfile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val t = Tables.load(s, d, "lineitem")
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
    val aggs = cols.flatMap { c =>
      Seq(min(dec(col(c))).cast("string").as(s"mn_$c"),
        max(dec(col(c))).cast("string").as(s"mx_$c"),
        sum(dec(col(c))).cast(DecimalType(38, 2)).cast("string")
          .as(s"sm_$c"))
    }
    t.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column_name"), col(s"mn_$c").as("min_v"),
        col(s"mx_$c").as("max_v"), col(s"sm_$c").as("sum_v"))): _*))
        .as("kv"))
      .select(col("kv.column_name"), col("kv.min_v"), col("kv.max_v"),
        col("kv.sum_v"))
  }

  val a14Sql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.flatMap(c => Seq(
      s"CAST(min(CAST($c AS DECIMAL(18,2))) AS VARCHAR) AS mn_$c",
      s"CAST(max(CAST($c AS DECIMAL(18,2))) AS VARCHAR) AS mx_$c",
      s"CAST(CAST(sum(CAST($c AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sm_$c"))
      .mkString(",\n    ")
    val melt = cols.map(c =>
      s"SELECT '$c' AS column_name, mn_$c AS min_v, mx_$c AS max_v, " +
        s"sm_$c AS sum_v FROM t").mkString("\nUNION ALL ")
    s"""WITH t AS (SELECT
       |    $aggs
       |  FROM lineitem)
       |$melt""".stripMargin
  }

  /** a18: top-K tables by rows (assess A7 family — `ORDER BY NUM_ROWS
    * DESC` over stats, `database/oracle/assess.go:256-305`) — from
    * footer stats, deterministic name tiebreak.
    */
  def a18TopTables(s: SparkSession, d: String): DataFrame =
    tableStats(s, d).select("table_name", "stat_rows")
      .orderBy(col("stat_rows").desc, col("table_name").asc)
      .limit(5)

  val a18Sql: String =
    s"""SELECT table_name, stat_rows FROM ($a4Sql) t
       |ORDER BY stat_rows DESC, table_name ASC LIMIT 5""".stripMargin

  /** a15: wide-table threshold scan (assess compat checks, A8 family —
    * the reference flags >512 columns; the testdata threshold is 5).
    */
  def a15WideTables(s: SparkSession, d: String): DataFrame =
    snapshot(s, d).groupBy("table_name")
      .agg(count(lit(1)).as("n_columns"))
      .filter(col("n_columns") >= 5)

  val a15Sql: String =
    s"""WITH $catalogValuesSql
       |SELECT table_name, count(*) AS n_columns
       |FROM cat GROUP BY 1 HAVING count(*) >= 5""".stripMargin

  // ------------------------------------------------------------- registry

  val registry: Seq[Query] = Seq(
    Query("k2_catalog_snapshot", k2CatalogSnapshot, k2Sql),
    Query("a4_stats_rowcount", a4StatsRowcount, a4Sql),
    Query("a10_column_type_dist", a10ColumnTypeDist, a10Sql),
    Query("a11_row_counts", a11RowCounts, a11Sql),
    Query("a12_null_profile", a12NullProfile, a12Sql),
    Query("a13_width_profile", a13WidthProfile, a13Sql),
    Query("a14_numeric_profile", a14NumericProfile, a14Sql),
    Query("a15_wide_tables", a15WideTables, a15Sql),
    Query("a18_top_tables", a18TopTables, a18Sql))
}
