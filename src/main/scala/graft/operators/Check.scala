package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.Norm

/** Check engine — structural diff of two catalog snapshots with
  * per-attribute classification and ALTER fix-SQL synthesis, the
  * reference's `check` mode (`module/check/oracle/o2m/diff.go:563-620`
  * column diff, per-attribute rules `rule.go` 1,135 LoC, output format
  * `example/check_marvin.sql`: `ALTER TABLE steven.T MODIFY COLUMN
  * STUNAME1 NCHAR(20) NOT NULL;`).
  *
  * The diff is one full-outer join of two ColumnSpec Datasets on
  * (table, column) + a when-chain classification — at fleet scale
  * (10⁵ tables) this hash-partitions on the join key; nothing is
  * collected until the bounded fix-SQL artifact is written.
  */
object Check {

  /** Classify and synthesize fixes. Inputs are snapshot-shaped
    * DataFrames: (table_name, ordinal, column_name, data_type,
    * nullable). Emits only differing columns:
    *   ADD          — column missing on target → ADD COLUMN
    *   DROP         — column only on target    → DROP COLUMN
    *   MODIFY_TYPE  — data type differs        → MODIFY COLUMN type
    *   MODIFY_NULL  — nullability differs      → MODIFY COLUMN ... [NOT] NULL
    */
  def structDiff(src: DataFrame, tgt: DataFrame,
      targetSchema: String = "steven"): DataFrame = {
    val s = src.select(col("table_name"), col("column_name"),
      col("data_type").as("src_type"), col("nullable").as("src_null"))
    val t = tgt.select(col("table_name"), col("column_name"),
      col("data_type").as("tgt_type"), col("nullable").as("tgt_null"))
    val joined = s.join(t, Seq("table_name", "column_name"), "full_outer")
    val change =
      when(col("tgt_type").isNull, lit("ADD"))
        .when(col("src_type").isNull, lit("DROP"))
        .when(col("src_type") =!= col("tgt_type"), lit("MODIFY_TYPE"))
        .when(col("src_null") =!= col("tgt_null"), lit("MODIFY_NULL"))
        .otherwise(lit("SAME"))
    val qualified: Column =
      concat(lit(s"$targetSchema."), col("table_name"))
    // every column-definition fix carries the nullability clause:
    // MySQL's MODIFY/ADD COLUMN replaces the WHOLE definition, so an
    // omitted NOT NULL would silently loosen the target (the
    // reference always emits it — `check_marvin.sql` "NCHAR(20) NOT
    // NULL")
    val nullClause =
      when(col("src_null"), lit(" NULL;")).otherwise(lit(" NOT NULL;"))
    val fix =
      when(change === "ADD", concat(lit("ALTER TABLE "), qualified,
        lit(" ADD COLUMN "), col("column_name"), lit(" "),
        col("src_type"), nullClause))
        .when(change === "DROP", concat(lit("ALTER TABLE "), qualified,
          lit(" DROP COLUMN "), col("column_name"), lit(";")))
        .when(change === "MODIFY_TYPE", concat(lit("ALTER TABLE "),
          qualified, lit(" MODIFY COLUMN "), col("column_name"), lit(" "),
          col("src_type"), nullClause))
        .when(change === "MODIFY_NULL", concat(lit("ALTER TABLE "),
          qualified, lit(" MODIFY COLUMN "), col("column_name"), lit(" "),
          col("src_type"), nullClause))
    joined.withColumn("change", change)
      .filter(col("change") =!= "SAME")
      .select(col("table_name"), col("column_name"), col("change"),
        fix.as("fix_sql"))
  }

  /** Deterministic "drifted target" snapshot: per (table, column) the
    * 60-bit hash mod 7 decides the drift — 0: column dropped on
    * target; 1: type drifted to STRING; 2: nullability tightened —
    * plus an `audit_ts` column added per table. Both engines derive
    * the target from the same rule over the same snapshot, then diff
    * with their OWN full-outer-join implementations.
    */
  def driftedSnapshot(snapshot: DataFrame): DataFrame = {
    val m = pmod(Norm.xhash64(
      concat(col("table_name"), lit("."), col("column_name"))), lit(7L))
    val drifted = snapshot
      .filter(m =!= 0)
      .withColumn("data_type",
        when(m === 1, lit("STRING")).otherwise(col("data_type")))
      .withColumn("nullable",
        when(m === 2, lit(false)).otherwise(col("nullable")))
    val added = snapshot.select("table_name").distinct()
      .select(col("table_name"), lit(999).as("ordinal"),
        lit("audit_ts").as("column_name"), lit("TIMESTAMP").as("data_type"),
        lit(true).as("nullable"))
    drifted.unionByName(added)
  }

  /** SQL mirror of [[driftedSnapshot]] over the `cat` CTE. */
  def driftedSqlCte(h: String => String): String = {
    val m = h("table_name || '.' || column_name") + " % 7"
    s"""tgt AS (
       |  SELECT table_name, ordinal, column_name,
       |    CASE WHEN $m = 1 THEN 'STRING' ELSE data_type END AS data_type,
       |    CASE WHEN $m = 2 THEN FALSE ELSE nullable END AS nullable
       |  FROM cat WHERE $m <> 0
       |  UNION ALL
       |  SELECT DISTINCT table_name, 999, 'audit_ts', 'TIMESTAMP', TRUE
       |  FROM cat)""".stripMargin
  }

  // --------------------------------------------------------- index check

  /** Index fixture, modeled on the reference's check examples
    * (`example/check_marvin.sql` index section: bitmap and
    * function-based forms need manual handling; normal/unique forms
    * get runnable CREATE/DROP fixes).
    */
  val indexFixture: Seq[(String, String, String, Boolean, String)] = Seq(
    ("marvin2", "pk_m2", "n1", true, "NORMAL"),
    ("marvin2", "idx_m2_vchar3", "vchar3", false, "NORMAL"),
    ("marvin2", "idx_m2_n4_vchar3", "n4,vchar3", false, "NORMAL"),
    ("marvin1lite", "pk_m1l", "id", true, "NORMAL"),
    ("marvin1lite", "idx_m1l_name", "name", false, "NORMAL"),
    ("unique_test", "uq_email", "email", true, "NORMAL"),
    ("unique_test", "idx_fname", "fname", false, "BITMAP"),
    ("unique_test", "idx_fn_expr", "SUBSTR(fname,1,3)", false,
      "FUNCTION-BASED"))

  private def indexDf(s: SparkSession): DataFrame = {
    import s.implicits._
    indexFixture.toDF("table_name", "index_name", "cols", "uniq", "kind")
  }

  private val indexValuesSql: String = {
    val values = indexFixture.map { case (t, i, c, u, k) =>
      s"('$t', '$i', '$c', ${if (u) "TRUE" else "FALSE"}, '$k')"
    }.mkString(",\n  ")
    s"""idx(table_name, index_name, cols, uniq, kind) AS (VALUES
       |  $values)""".stripMargin
  }

  /** k3: index diff — source vs hash-drifted target index sets,
    * classified ADD (missing on target) / DROP (target-only) /
    * REBUILD (columns or uniqueness drifted), with runnable
    * CREATE/DROP INDEX fixes; incompatible forms (bitmap,
    * function-based) get a manual-action comment instead, as the
    * reference diverts them (`check_marvin.sql`, `rule.go:107-154`).
    */
  def k3IndexDiff(s: SparkSession, d: String): DataFrame = {
    val src = indexDf(s)
    val m = pmod(Norm.xhash64(
      concat(col("table_name"), lit("."), col("index_name"))), lit(5L))
    val tgt = src.filter(m =!= 0)
      .withColumn("cols",
        when(m === 1, concat(col("cols"), lit(",extra_col")))
          .otherwise(col("cols")))
      .withColumn("uniq", when(m === 2, !col("uniq")).otherwise(col("uniq")))
      .unionByName(src.select("table_name").distinct()
        .select(col("table_name"), lit("audit_idx").as("index_name"),
          lit("audit_ts").as("cols"), lit(false).as("uniq"),
          lit("NORMAL").as("kind")))
    val j = src.select(col("table_name"), col("index_name"),
        col("cols").as("s_cols"), col("uniq").as("s_uniq"),
        col("kind").as("s_kind"))
      .join(tgt.select(col("table_name"), col("index_name"),
        col("cols").as("t_cols"), col("uniq").as("t_uniq")),
        Seq("table_name", "index_name"), "full_outer")
    val change =
      when(col("t_cols").isNull, lit("ADD"))
        .when(col("s_cols").isNull, lit("DROP"))
        .when(col("s_cols") =!= col("t_cols") ||
          col("s_uniq") =!= col("t_uniq"), lit("REBUILD"))
        .otherwise(lit("SAME"))
    val createSql = concat(lit("CREATE "),
      when(col("s_uniq"), lit("UNIQUE ")).otherwise(lit("")),
      lit("INDEX "), col("index_name"), lit(" ON steven."),
      col("table_name"), lit("("), col("s_cols"), lit(");"))
    val dropSql = concat(lit("DROP INDEX "), col("index_name"),
      lit(" ON steven."), col("table_name"), lit(";"))
    val fix =
      when(col("s_kind").isNotNull && col("s_kind") =!= "NORMAL",
        concat(lit("-- manual ["), col("s_kind"), lit("]: "), createSql))
        .when(change === "ADD", createSql)
        .when(change === "DROP", dropSql)
        .when(change === "REBUILD", concat(dropSql, lit(" "), createSql))
    j.withColumn("change", change).filter(col("change") =!= "SAME")
      .select(col("table_name"), col("index_name"), col("change"),
        fix.as("fix_sql"))
  }

  val k3Sql: String = {
    val m = s"${Norm.xhash64Sql("table_name || '.' || index_name")} % 5"
    s"""WITH $indexValuesSql,
       |tgt AS (
       |  SELECT table_name, index_name,
       |    CASE WHEN $m = 1 THEN cols || ',extra_col' ELSE cols END AS cols,
       |    CASE WHEN $m = 2 THEN NOT uniq ELSE uniq END AS uniq
       |  FROM idx WHERE $m <> 0
       |  UNION ALL
       |  SELECT DISTINCT table_name, 'audit_idx', 'audit_ts', FALSE
       |  FROM idx),
       |j AS (
       |  SELECT coalesce(s.table_name, t.table_name) AS table_name,
       |         coalesce(s.index_name, t.index_name) AS index_name,
       |         s.cols AS s_cols, s.uniq AS s_uniq, s.kind AS s_kind,
       |         t.cols AS t_cols, t.uniq AS t_uniq
       |  FROM idx s FULL OUTER JOIN tgt t
       |    ON s.table_name = t.table_name AND s.index_name = t.index_name),
       |c AS (
       |  SELECT *,
       |    CASE WHEN t_cols IS NULL THEN 'ADD'
       |         WHEN s_cols IS NULL THEN 'DROP'
       |         WHEN s_cols <> t_cols OR s_uniq <> t_uniq THEN 'REBUILD'
       |         ELSE 'SAME' END AS change,
       |    'CREATE ' || CASE WHEN s_uniq THEN 'UNIQUE ' ELSE '' END ||
       |      'INDEX ' || index_name || ' ON steven.' || table_name ||
       |      '(' || s_cols || ');' AS create_sql,
       |    'DROP INDEX ' || index_name || ' ON steven.' || table_name ||
       |      ';' AS drop_sql
       |  FROM j)
       |SELECT table_name, index_name, change,
       |  CASE WHEN s_kind IS NOT NULL AND s_kind <> 'NORMAL'
       |         THEN '-- manual [' || s_kind || ']: ' || create_sql
       |       WHEN change = 'ADD' THEN create_sql
       |       WHEN change = 'DROP' THEN drop_sql
       |       WHEN change = 'REBUILD' THEN drop_sql || ' ' || create_sql
       |  END AS fix_sql
       |FROM c WHERE change <> 'SAME'""".stripMargin
  }

  /** a19: schema-object overview (assess `SchemaOverview` family —
    * object counts per kind, `database/oracle/assess.go:162-254`).
    */
  def a19ObjectOverview(s: SparkSession, d: String): DataFrame = {
    val snap = Catalog.snapshot(s, d)
      .agg(countDistinct(col("table_name")).as("n_tables"),
        count(lit(1)).as("n_columns"))
    val idx = indexDf(s)
      .agg(count(lit(1)).as("n_indexes"),
        sum(when(col("uniq"), 1L).otherwise(0L)).as("n_unique"))
    snap.crossJoin(idx)
  }

  val a19Sql: String =
    s"""WITH ${Catalog.catalogValuesSql},
       |$indexValuesSql
       |SELECT
       |  (SELECT count(DISTINCT table_name) FROM cat) AS n_tables,
       |  (SELECT count(*) FROM cat) AS n_columns,
       |  (SELECT count(*) FROM idx) AS n_indexes,
       |  (SELECT CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT)
       |   FROM idx) AS n_unique""".stripMargin

  /** Assess report artifact (S9's report sink — the reference renders
    * its ~25 report structs to ONE report file,
    * `module/assess/oracle/public/report.go`): each section is a
    * bounded report query collected and rendered as aligned text. The
    * heavy aggregation stays distributed; only final report rows reach
    * the driver.
    */
  /** One report section: registry key + rendered title + the section
    * query, its DuckDB oracle, and the NormCol rendering of its output
    * schema (for the a36 per-section checksum — derived columns like
    * a35's skew_factor are excluded, they add no content the base
    * columns don't already pin).
    */
  final case class ReportSection(key: String, title: String,
      fn: (SparkSession, String) => DataFrame, sql: String,
      sumCols: Seq[Norm.NormCol])

  /** The report's full section list — the reference's assess report
    * families (`module/assess/oracle/o2m/assess_result.go:30-1402`)
    * assembled in reading order. Shared by the text and HTML renderers
    * AND the a36 checksum query, so the artifacts and the hash gate
    * can never disagree on content.
    */
  def reportSections: Seq[ReportSection] = {
    import Norm.{KBool, KLong, KStr}
    def nc(xs: (String, Norm.Kind)*) =
      xs.map { case (n, k) => Norm.NormCol(n, k) }
    Seq(
      ReportSection("a19_object_overview", "SCHEMA OBJECT OVERVIEW",
        a19ObjectOverview, a19Sql,
        nc("n_tables" -> KLong, "n_columns" -> KLong, "n_indexes" -> KLong,
          "n_unique" -> KLong)),
      ReportSection("a11_row_counts", "TABLE ROW COUNTS",
        Catalog.a11RowCounts, Catalog.a11Sql,
        nc("table_name" -> KStr, "n_rows" -> KLong)),
      ReportSection("a10_column_type_dist", "COLUMN TYPE DISTRIBUTION",
        Catalog.a10ColumnTypeDist, Catalog.a10Sql,
        nc("data_type" -> KStr, "n_columns" -> KLong, "n_tables" -> KLong)),
      ReportSection("a15_wide_tables", "WIDE TABLES (>= 5 COLUMNS)",
        Catalog.a15WideTables, Catalog.a15Sql,
        nc("table_name" -> KStr, "n_columns" -> KLong)),
      ReportSection("a18_top_tables", "TOP TABLES BY ROWS",
        Catalog.a18TopTables, Catalog.a18Sql,
        nc("table_name" -> KStr, "stat_rows" -> KLong)),
      ReportSection("a6_assess_overview", "ORDER VALUE OVERVIEW",
        Relational.a6AssessOverview, Relational.a6Sql,
        nc("o_orderstatus" -> KStr, "price_band" -> KStr,
          "n_orders" -> KLong, "total_price" -> KStr)),
      ReportSection("a20_table_type_counts", "TABLE TYPES",
        Assess.a20TableTypeCounts, Assess.a20Sql,
        nc("owner" -> KStr, "table_type" -> KStr, "total_bytes" -> KLong,
          "n_tables" -> KLong)),
      ReportSection("a21_partition_types", "PARTITION TYPES",
        Assess.a21PartitionTypes, Assess.a21Sql,
        nc("owner" -> KStr, "partitioning_type" -> KStr,
          "n_tables" -> KLong, "n_partitions" -> KLong)),
      ReportSection("a22_subpartition_types", "SUBPARTITION TYPES",
        Assess.a22SubpartitionTypes, Assess.a22Sql,
        nc("owner" -> KStr, "subpartitioning_type" -> KStr,
          "n_tables" -> KLong)),
      ReportSection("a23_temp_table_types", "TEMPORARY TABLES",
        Assess.a23TempTableTypes, Assess.a23Sql,
        nc("owner" -> KStr, "temp_type" -> KStr, "n_tables" -> KLong)),
      ReportSection("a24_constraint_types", "CONSTRAINT TYPES",
        Assess.a24ConstraintTypes, Assess.a24Sql,
        nc("owner" -> KStr, "constraint_type" -> KStr,
          "n_constraints" -> KLong)),
      ReportSection("a25_default_value_counts", "COLUMN DEFAULTS",
        Assess.a25DefaultValueCounts, Assess.a25Sql,
        nc("data_default" -> KStr, "n_columns" -> KLong)),
      ReportSection("a26_view_types", "VIEW TYPES",
        Assess.a26ViewTypes, Assess.a26Sql,
        nc("owner" -> KStr, "view_type" -> KStr, "n_views" -> KLong)),
      ReportSection("a27_index_types", "INDEX TYPES",
        Assess.a27IndexTypes, Assess.a27Sql,
        nc("owner" -> KStr, "index_type" -> KStr, "n_indexes" -> KLong)),
      ReportSection("a28_column_type_widths", "COLUMN TYPE WIDTHS",
        Assess.a28ColumnTypeWidths, Assess.a28Sql,
        nc("data_type" -> KStr, "n_columns" -> KLong, "max_width" -> KLong)),
      ReportSection("a29_threshold_matrix", "COMPATIBILITY THRESHOLDS",
        Assess.a29ThresholdMatrix, Assess.a29Sql,
        nc("check_name" -> KStr, "object_name" -> KStr, "measure" -> KLong)),
      ReportSection("a30_code_objects", "CODE OBJECTS",
        Assess.a30CodeObjects, Assess.a30Sql,
        nc("owner" -> KStr, "name" -> KStr, "obj_type" -> KStr,
          "lines" -> KLong)),
      ReportSection("a31_synonyms", "SYNONYMS",
        Assess.a31Synonyms, Assess.a31Sql,
        nc("owner" -> KStr, "synonym_name" -> KStr, "table_owner" -> KStr,
          "table_name" -> KStr, "cross_schema" -> KBool)),
      ReportSection("a32_mview_profile", "MATERIALIZED VIEW REFRESH",
        Assess.a32MviewProfile, Assess.a32Sql,
        nc("refresh_mode" -> KStr, "refresh_method" -> KStr,
          "n_mviews" -> KLong)),
      ReportSection("a33_percentile_profile", "PRICE PERCENTILES BY CHUNK",
        Relational.a33PercentileProfile, Relational.a33Sql,
        nc("chunk_id" -> KLong, "p50_cents" -> KLong, "p90_cents" -> KLong,
          "p99_cents" -> KLong, "n_rows" -> KLong)),
      ReportSection("a34_rollup_report", "CUSTOMER BALANCE ROLLUP",
        Relational.a34RollupReport, Relational.a34Sql,
        nc("r_name" -> KStr, "n_name" -> KStr, "n_custs" -> KLong,
          "total_bal" -> KStr)),
      ReportSection("a35_skew_profile", "JOIN KEY SKEW",
        Assess.a35SkewProfile, Assess.a35Sql,
        nc("table_name" -> KStr, "join_col" -> KStr, "n_keys" -> KLong,
          "n_rows" -> KLong, "top1_rows" -> KLong)))
  }

  /** Every section run ONCE: the distributed aggregation collapses to
    * its bounded report rows here, and everything downstream (text
    * render, HTML render, a36 checksums) reads the collected rows.
    * Sections are independent, so their jobs are SUBMITTED
    * CONCURRENTLY ([[DriverPool]]); a section that hangs past the
    * deadline fails the report with its jobs cancelled. Result order
    * stays the registry's reading order.
    */
  private def sectionData(s: SparkSession, d: String)
      : Seq[(ReportSection, org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row])] = {
    import scala.concurrent.duration._
    DriverPool.map(s, reportSections, "graft-assess", 10.minutes) { sec =>
      val df = sec.fn(s, d)
      (sec, df.schema, df.collect().toSeq)
    }
  }

  private def renderTextFrom(
      data: Seq[(ReportSection, org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row])]): String =
    data.map { case (sec, schema, rs) =>
      val cols = schema.fieldNames
      val rows = rs.map(r => cols.indices.map(i => String.valueOf(r.get(i))))
      val widths = cols.indices.map(i =>
        (cols(i).length +: rows.map(_(i).length)).max)
      def line(vals: Seq[String]) = vals.zip(widths)
        .map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |")
      (Seq(s"== ${sec.title} ==", line(cols.toSeq)) ++ rows.map(line))
        .mkString("\n")
    }.mkString("\n\n")

  def renderAssessReport(s: SparkSession, d: String): String =
    renderTextFrom(sectionData(s, d))

  private def htmlEsc(v: String): String =
    v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** HTML report artifact — the reference renders its assess structs
    * through HTML templates to a report file
    * (`module/assess/oracle/public/report.go:36-63`, the HTML
    * templates under `template/`); here each section becomes an `<h2>` +
    * `<table>`. Same aggregation plan as the text artifact: the heavy
    * work stays distributed, only bounded report rows are collected
    * and templated on the driver.
    */
  private def renderHtmlFrom(
      data: Seq[(ReportSection, org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row])]): String = {
    val body = data.map { case (sec, schema, rs) =>
      val cols = schema.fieldNames
      val head = cols.map(c => s"<th>${htmlEsc(c)}</th>")
        .mkString("<tr>", "", "</tr>")
      val rows = rs.map(r =>
        cols.indices.map(i =>
          s"<td>${htmlEsc(String.valueOf(r.get(i)))}</td>")
          .mkString("<tr>", "", "</tr>")).mkString("\n")
      s"""<section>
         |<h2>${htmlEsc(sec.title)}</h2>
         |<table>
         |<thead>$head</thead>
         |<tbody>
         |$rows
         |</tbody>
         |</table>
         |</section>""".stripMargin
    }.mkString("\n")
    s"""<!DOCTYPE html>
       |<html>
       |<head><meta charset="utf-8"><title>Assess Report</title></head>
       |<body>
       |<h1>Assess Report</h1>
       |$body
       |</body>
       |</html>""".stripMargin
  }

  def renderAssessReportHtml(s: SparkSession, d: String): String =
    renderHtmlFrom(sectionData(s, d))

  /** a36: the assembled assess report as a registered, hash-checked
    * query — the reference's report artifact
    * (`module/assess/oracle/public/report.go:36-63`) as a pipe-style
    * composition. Runs every section once (distributed aggregation →
    * bounded report rows), writes BOTH rendered artifacts (aligned
    * text + HTML) through the S9 file sink, and returns one row per
    * section with the section's row count and order-insensitive
    * checksum over its canonical rendering — so the driver's hash gate
    * pins the exact content both artifacts were rendered from. The
    * checksum aggregation runs over the already-collected bounded
    * rows (a local relation); the heavy scan-side work happened
    * exactly once inside each section's own distributed plan.
    */
  def a36AssessReport(s: SparkSession, d: String): DataFrame =
    a36AssessReportTo(s, d, Migrate.tempDir("assess_report"))

  def a36AssessReportTo(s: SparkSession, d: String,
      outDir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val data = sectionData(s, d)
    graft.reverse.Ddl.writeArtifact(s"$outDir/assess_report.txt",
      Seq(renderTextFrom(data)))
    graft.reverse.Ddl.writeArtifact(s"$outDir/assess_report.html",
      Seq(renderHtmlFrom(data)))
    // ONE aggregation over a union of narrow per-section projections
    // (section, canonical row string), not 22 separate aggregates:
    // each section's rows are already local, so 22 unioned two-stage
    // aggs would cost ~44 scheduler stages for 22 output rows — the
    // single groupBy is one tiny shuffle. The canonical string is the
    // same Norm.sparkRow the per-section checksum contract defines.
    val agg = data.map { case (sec, schema, rs) =>
      s.createDataFrame(rs.asJava, schema)
        .select(lit(sec.key).as("section"),
          Norm.sparkRow(sec.sumCols).as("row_str"))
    }.reduce(_.unionAll(_))
      .groupBy("section")
      .agg(count(lit(1)).as("n_rows"),
        sum(Norm.xhash64(col("row_str"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))
          .cast("string").as("checksum"))
    // an EMPTY section must still report (section, 0, NULL): groupBy
    // drops empty groups, but the oracle's per-section UNION ALL arms
    // aggregate unconditionally — left-join the registry so both
    // engines agree on empty sections too
    import s.implicits._
    reportSections.map(_.key).toDF("section")
      .join(agg, Seq("section"), "left")
      .select(col("section"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"), col("checksum"))
  }

  val a36Sql: String = reportSections.map { sec =>
    s"""SELECT '${sec.key}' AS section, count(*) AS n_rows,
       |  ${Norm.duckRowChecksum(sec.sumCols)} AS checksum
       |FROM (
       |${sec.sql}
       |) report_section""".stripMargin
  }.mkString("\nUNION ALL\n")

  // ------------------------------------------------------------- queries

  /** k1: struct check of the introspected catalog vs its drifted
    * target — the full classification + fix-SQL surface.
    */
  def k1StructDiff(s: SparkSession, d: String): DataFrame = {
    val snap = Catalog.snapshot(s, d)
    structDiff(snap, driftedSnapshot(snap))
  }

  /** The full drift + full-outer-diff + fix-SQL oracle over any
    * pinned catalog CTE named `cat` — shared by k1 (parquet-footer
    * snapshot) and k5 (JDBC-introspected snapshot): the diff grammar
    * is source-independent, only the snapshot under test changes.
    */
  def structDiffSql(catCte: String): String =
    s"""WITH $catCte,
       |${driftedSqlCte(Norm.xhash64Sql)},
       |j AS (
       |  SELECT coalesce(s.table_name, t.table_name) AS table_name,
       |         coalesce(s.column_name, t.column_name) AS column_name,
       |         s.data_type AS src_type, s.nullable AS src_null,
       |         t.data_type AS tgt_type, t.nullable AS tgt_null
       |  FROM cat s FULL OUTER JOIN tgt t
       |    ON s.table_name = t.table_name AND s.column_name = t.column_name),
       |c AS (
       |  SELECT *,
       |    CASE WHEN tgt_type IS NULL THEN 'ADD'
       |         WHEN src_type IS NULL THEN 'DROP'
       |         WHEN src_type <> tgt_type THEN 'MODIFY_TYPE'
       |         WHEN src_null <> tgt_null THEN 'MODIFY_NULL'
       |         ELSE 'SAME' END AS change
       |  FROM j)
       |SELECT table_name, column_name, change,
       |  CASE change
       |    WHEN 'ADD' THEN 'ALTER TABLE steven.' || table_name ||
       |      ' ADD COLUMN ' || column_name || ' ' || src_type ||
       |      CASE WHEN src_null THEN ' NULL;' ELSE ' NOT NULL;' END
       |    WHEN 'DROP' THEN 'ALTER TABLE steven.' || table_name ||
       |      ' DROP COLUMN ' || column_name || ';'
       |    WHEN 'MODIFY_TYPE' THEN 'ALTER TABLE steven.' || table_name ||
       |      ' MODIFY COLUMN ' || column_name || ' ' || src_type ||
       |      CASE WHEN src_null THEN ' NULL;' ELSE ' NOT NULL;' END
       |    WHEN 'MODIFY_NULL' THEN 'ALTER TABLE steven.' || table_name ||
       |      ' MODIFY COLUMN ' || column_name || ' ' || src_type ||
       |      CASE WHEN src_null THEN ' NULL;' ELSE ' NOT NULL;' END
       |  END AS fix_sql
       |FROM c WHERE change <> 'SAME'""".stripMargin

  val k1Sql: String = structDiffSql(Catalog.catalogValuesSql)

  // ------------------------------------------------- JDBC catalog source

  /** The Derby schema k5 lands and then introspects, pinned for the
    * oracle: what the Spark JDBC writer creates for each source column
    * (INT → INTEGER, BIGINT/DOUBLE pass-through, strings via explicit
    * `createTableColumnTypes` widths).
    */
  private val jdbcCatFixture: Seq[(String, Int, String, String)] = Seq(
    ("region", 1, "r_regionkey", "INTEGER"),
    ("region", 2, "r_name", "VARCHAR(32)"),
    ("nation", 1, "n_nationkey", "INTEGER"),
    ("nation", 2, "n_name", "VARCHAR(32)"),
    ("nation", 3, "n_regionkey", "INTEGER"),
    ("customer", 1, "c_custkey", "BIGINT"),
    ("customer", 2, "c_name", "VARCHAR(40)"),
    ("customer", 3, "c_nationkey", "INTEGER"),
    ("customer", 4, "c_acctbal", "DOUBLE"),
    ("customer", 5, "c_mktsegment", "VARCHAR(16)"))

  private val jdbcCatValuesSql: String = {
    val values = jdbcCatFixture.map { case (t, i, c, ty) =>
      s"('$t', $i, '$c', '$ty', TRUE)"
    }.mkString(",\n  ")
    s"""cat(table_name, ordinal, column_name, data_type, nullable) AS (VALUES
       |  $values)""".stripMargin
  }

  /** k5: JDBC catalog introspection as a first-class check source —
    * the reference's live-dictionary scan (S5,
    * `database/mysql/reverse.go:187-439` `information_schema` reads)
    * end to end: three tables land in embedded Derby through the real
    * JDBC writer, [[Catalog.snapshotJdbc]] rebuilds the catalog
    * snapshot from `DatabaseMetaData` (not from the source schema!),
    * and the snapshot flows through the same drift + structDiff + fix
    * synthesis as k1. The oracle pins the expected introspected
    * schema, so writer type mapping, metadata read-back, AND the diff
    * are all hash-checked.
    */
  def k5JdbcCatalog(s: SparkSession, d: String): DataFrame = {
    import graft.Tables
    val dbDir = Migrate.scratchDbDir("derby_cat")
    val url = s"jdbc:derby:$dbDir/catdb;create=true"
    Migrate.runJdbc(Tables.load(s, d, "region"), url, "REGION",
      columnTypes = Some("r_name VARCHAR(32)"))
    Migrate.runJdbc(Tables.load(s, d, "nation"), url, "NATION",
      columnTypes = Some("n_name VARCHAR(32)"))
    Migrate.runJdbc(Tables.load(s, d, "customer"), url, "CUSTOMER",
      columnTypes =
        Some("c_name VARCHAR(40), c_mktsegment VARCHAR(16)"))
    val snap = Catalog.snapshotJdbc(s, url,
      Seq("region", "nation", "customer"))
    structDiff(snap, driftedSnapshot(snap))
  }

  val k5Sql: String = structDiffSql(jdbcCatValuesSql)

  // ------------------------------------------------------------- registry

  /** k4: column-type RULE check — the reference's deepest check-mode
    * surface (`module/check/oracle/o2m/rule.go`, 1,135 LoC of
    * per-type source-vs-target comparisons): for every zoo column,
    * the type the mapping rules REQUIRE on the target is compared
    * against the type the target actually declares (drifted
    * deterministically by ordinal), and mismatches synthesize `ALTER
    * ... MODIFY COLUMN` fix SQL. The Spark side maps through
    * [[graft.reverse.TypeMapper]]; the oracle re-derives the required
    * type with its independent CASE tree and the same drift rule, so
    * both the rule tree AND the comparison are cross-checked.
    */
  def k4TypeRuleCheck(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.reverse.{OracleColumn, Reverse, TypeMapper}
    val rows = Reverse.zoo.map { z =>
      (z.table_name, z.ordinal, z.col_name,
        TypeMapper.mysqlType(Reverse.toOracleColumn(z)))
    }.toDF("table_name", "ordinal", "col_name", "required_type")
    val checked = rows.withColumn("declared_type",
      when(col("ordinal") % 11 === 0, lit("TEXT"))
        .when(col("ordinal") % 11 === 5, lit("VARCHAR(255)"))
        .otherwise(col("required_type")))
    checked.select(col("table_name"), col("col_name"),
      col("required_type"), col("declared_type"),
      when(col("required_type") === col("declared_type"), lit("OK"))
        .otherwise(lit("TYPE_MISMATCH")).as("verdict"),
      when(col("required_type") =!= col("declared_type"),
        concat(lit("ALTER TABLE steven."), col("table_name"),
          lit(" MODIFY COLUMN `"), col("col_name"), lit("` "),
          lower(col("required_type")), lit(";"))).as("fix_sql"))
  }

  val k4Sql: String = {
    import graft.reverse.Reverse
    s"""WITH ${Reverse.zooCte},
       |n AS (${Reverse.deriveSql} FROM zoo),
       |req AS (
       |  SELECT table_name, ordinal, col_name,
       |    ${Reverse.mysqlCaseSql} AS required_type
       |  FROM n),
       |chk AS (
       |  SELECT *,
       |    CASE WHEN ordinal % 11 = 0 THEN 'TEXT'
       |         WHEN ordinal % 11 = 5 THEN 'VARCHAR(255)'
       |         ELSE required_type END AS declared_type
       |  FROM req)
       |SELECT table_name, col_name, required_type, declared_type,
       |  CASE WHEN required_type = declared_type THEN 'OK'
       |       ELSE 'TYPE_MISMATCH' END AS verdict,
       |  CASE WHEN required_type <> declared_type THEN
       |    'ALTER TABLE steven.' || table_name || ' MODIFY COLUMN `' ||
       |    col_name || '` ' || lower(required_type) || ';'
       |  END AS fix_sql
       |FROM chk""".stripMargin
  }

  /** k6: the M2O check direction — the reference keeps a full
    * mysql→oracle struct-check package (`module/check/mysql/`,
    * dispatcher `module/check/interf.go`) mirroring the O2M one: for
    * every MySQL zoo column the type the M2O rules REQUIRE on the
    * Oracle target ([[graft.reverse.M2OTypeMapper]]) is compared
    * against the drifted declared type, and mismatches synthesize
    * Oracle-dialect `ALTER TABLE ... MODIFY (col type)` fixes (Oracle
    * wraps the column clause in parens and re-states only the type —
    * unlike MySQL's full-definition MODIFY COLUMN). SET/ENUM map to
    * UNSUPPORTED and divert to a manual-action comment, never to a
    * runnable fix. Oracle side re-derives the required type with its
    * independent CASE tree (`Reverse.m2oCaseSql`).
    */
  def k6M2oStructDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.reverse.{M2OTypeMapper, Reverse}
    val rows = Reverse.mysqlZoo.zipWithIndex.map { case (c, i) =>
      ("marvin_mysql", i + 1, c.name, M2OTypeMapper.oracleType(c))
    }.toDF("table_name", "ordinal", "col_name", "required_type")
    val checked = rows.withColumn("declared_type",
      when(col("ordinal") % 7 === 0, lit("VARCHAR2(4000)"))
        .when(col("ordinal") % 7 === 3, lit("CLOB"))
        .otherwise(col("required_type")))
    checked.select(col("table_name"), col("col_name"),
      col("required_type"), col("declared_type"),
      when(col("required_type") === M2OTypeMapper.Unsupported,
        lit("MANUAL"))
        .when(col("required_type") === col("declared_type"), lit("OK"))
        .otherwise(lit("TYPE_MISMATCH")).as("verdict"),
      when(col("required_type") === M2OTypeMapper.Unsupported,
        concat(lit("-- manual [unsupported type]: "), col("col_name")))
        .when(col("required_type") =!= col("declared_type"),
          concat(lit("ALTER TABLE steven."), col("table_name"),
            lit(" MODIFY ("), col("col_name"), lit(" "),
            col("required_type"), lit(");"))).as("fix_sql"))
  }

  val k6Sql: String = {
    import graft.reverse.Reverse
    s"""WITH ${Reverse.mysqlZooCte},
       |req AS (
       |  SELECT 'marvin_mysql' AS table_name, ordinal, col_name,
       |    ${Reverse.m2oCaseSql} AS required_type
       |  FROM mzoo),
       |chk AS (
       |  SELECT *,
       |    CASE WHEN ordinal % 7 = 0 THEN 'VARCHAR2(4000)'
       |         WHEN ordinal % 7 = 3 THEN 'CLOB'
       |         ELSE required_type END AS declared_type
       |  FROM req)
       |SELECT table_name, col_name, required_type, declared_type,
       |  CASE WHEN required_type = 'UNSUPPORTED' THEN 'MANUAL'
       |       WHEN required_type = declared_type THEN 'OK'
       |       ELSE 'TYPE_MISMATCH' END AS verdict,
       |  CASE WHEN required_type = 'UNSUPPORTED'
       |         THEN '-- manual [unsupported type]: ' || col_name
       |       WHEN required_type <> declared_type THEN
       |         'ALTER TABLE steven.' || table_name || ' MODIFY (' ||
       |         col_name || ' ' || required_type || ');'
       |  END AS fix_sql
       |FROM chk""".stripMargin
  }

  // ------------------------------------------------- O2T / T2O directions

  /** Table-level charset/collation fixture for the O2T check — one
    * table per Oracle NLS behavior branch of the O2T collation matrix
    * (`common/reverse.go:176-212`).
    */
  val o2tTableCharsets: Seq[(String, String, String)] = Seq(
    // (table_name, oracle_charset, nls_sort)
    ("marvin2", "AL32UTF8", "BINARY_CS"),
    ("marvin1lite", "ZHS16GBK", "BINARY_AI"),
    ("hash_rang", "ZHT16BIG5", "BINARY_CI"),
    ("gtt_stage", "UTF8", "BINARY"))

  /** FK fixture for the O2T direction — TiDB parses but does not
    * enforce foreign keys (pre-v6.6 semantics the reference targets;
    * its o2t reverse never emits FK DDL, `o2t/rule.go`), so check-mode
    * diverts every FK to a manual validation note.
    */
  val o2tForeignKeys: Seq[(String, String, String)] = Seq(
    ("marvin2", "fk_m2_parent", "marvin1lite"),
    ("hash_rang", "fk_hr_nation", "nation_dim"))

  /** k7: the O2T check direction (`module/check/oracle/o2t/` — the
    * O2M diff machinery swapped onto the Oracle2TiDB charset/collation
    * maps plus TiDB-isms). Four row families in one report:
    *
    *  - COLUMN_TYPE — required type from the shared O2M/O2T datatype
    *    grid vs a drifted declared type → `MODIFY COLUMN` fixes (TiDB
    *    is MySQL-dialect);
    *  - TABLE_COLLATION — the O2T matrix pins EVERY source charset to
    *    UTF8MB4 (`common/reverse.go:176` "Charset 统一 UTF8MB4"), so the
    *    check is collation-only → `CONVERT TO CHARACTER SET` fixes;
    *  - PK_ROUTE — TiDB's clustered attribute is immutable after
    *    CREATE, so a route mismatch has no ALTER: manual recreate note
    *    (`o2t/rule.go:241-250`);
    *  - FOREIGN_KEY — always a manual note, never a fix (TiDB doesn't
    *    enforce FKs).
    */
  def k7O2tCheck(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.reverse.{CharsetMaps, OracleColumn, Reverse, TypeMapper}
    val typeRows = Reverse.zoo.map { z =>
      (z.table_name, z.ordinal, z.col_name,
        TypeMapper.mysqlType(Reverse.toOracleColumn(z)))
    }.toDF("table_name", "ordinal", "item", "required")
      .withColumn("declared",
        when(col("ordinal") % 13 === 0, lit("TEXT"))
          .when(col("ordinal") % 13 === 4, lit("VARCHAR(191)"))
          .otherwise(col("required")))
      .select(lit("COLUMN_TYPE").as("item_kind"), col("table_name"),
        col("item"), col("required"), col("declared"),
        when(col("required") === col("declared"), lit("OK"))
          .otherwise(lit("TYPE_MISMATCH")).as("verdict"),
        when(col("required") =!= col("declared"),
          concat(lit("ALTER TABLE steven."), col("table_name"),
            lit(" MODIFY COLUMN `"), col("item"), lit("` "),
            lower(col("required")), lit(";"))).as("fix_sql"))
    val collRows = o2tTableCharsets.zipWithIndex.map {
      case ((t, _, nls), i) =>
        val required = CharsetMaps.collation(nls, "UTF8MB4")
        val declared =
          if (i % 2 == 0) "UTF8MB4_GENERAL_CI" else required
        (t, required, declared)
    }.toDF("table_name", "required", "declared")
      .select(lit("TABLE_COLLATION").as("item_kind"), col("table_name"),
        lit("UTF8MB4").as("item"), col("required"), col("declared"),
        when(col("required") === col("declared"), lit("OK"))
          .otherwise(lit("COLLATION_MISMATCH")).as("verdict"),
        when(col("required") =!= col("declared"),
          concat(lit("ALTER TABLE steven."), col("table_name"),
            lit(" CONVERT TO CHARACTER SET utf8mb4 COLLATE "),
            lower(col("required")), lit(";"))).as("fix_sql"))
    val routeRows = Reverse.tidbRoutes.map { case (t, route, pk, _) =>
      (t, route, pk)
    }.toDF("table_name", "required", "pk")
      // declared: TiDB's default when the attribute is unspecified
      .withColumn("declared", lit("nonclustered"))
      .select(lit("PK_ROUTE").as("item_kind"), col("table_name"),
        lit("PRIMARY_KEY").as("item"), col("required"), col("declared"),
        when(col("required") === col("declared"), lit("OK"))
          .otherwise(lit("CLUSTERED_MISMATCH")).as("verdict"),
        when(col("required") =!= col("declared"),
          concat(lit("-- manual [o2t]: clustered attribute is immutable"),
            lit(" — recreate "), col("table_name"),
            lit(" with PRIMARY KEY (`"), col("pk"), lit("`) CLUSTERED")))
          .as("fix_sql"))
    val fkRows = o2tForeignKeys.toDF("table_name", "fk_name", "ref_table")
      .select(lit("FOREIGN_KEY").as("item_kind"), col("table_name"),
        col("fk_name").as("item"),
        concat(lit("REFERENCES "), col("ref_table")).as("required"),
        lit("UNENFORCED").as("declared"),
        lit("MANUAL").as("verdict"),
        concat(lit("-- manual [o2t]: tidb does not enforce foreign keys"),
          lit(" — validate "), col("fk_name"),
          lit(" in the application")).as("fix_sql"))
    typeRows.unionByName(collRows).unionByName(routeRows)
      .unionByName(fkRows)
  }

  val k7Sql: String = {
    import graft.reverse.Reverse
    val collVals = o2tTableCharsets.zipWithIndex.map {
      case ((t, _, nls), i) => s"('$t', '$nls', $i)"
    }.mkString(",\n  ")
    val routeVals = Reverse.tidbRoutes.map { case (t, r, pk, _) =>
      s"('$t', '$r', '$pk')"
    }.mkString(",\n  ")
    val fkVals = o2tForeignKeys.map { case (t, f, r) =>
      s"('$t', '$f', '$r')"
    }.mkString(",\n  ")
    s"""WITH ${Reverse.zooCte},
       |n AS (${Reverse.deriveSql} FROM zoo),
       |req AS (
       |  SELECT table_name, ordinal, col_name,
       |    ${Reverse.mysqlCaseSql} AS required
       |  FROM n),
       |t AS (
       |  SELECT *,
       |    CASE WHEN ordinal % 13 = 0 THEN 'TEXT'
       |         WHEN ordinal % 13 = 4 THEN 'VARCHAR(191)'
       |         ELSE required END AS declared
       |  FROM req),
       |coll AS (
       |  SELECT table_name,
       |    CASE WHEN nls = 'BINARY_CI' THEN 'UTF8MB4_0900_AS_CI'
       |         WHEN nls = 'BINARY_AI' THEN 'UTF8MB4_GENERAL_CI'
       |         ELSE 'UTF8MB4_BIN' END AS required, i
       |  FROM (VALUES
       |  $collVals) c(table_name, nls, i))
       |SELECT 'COLUMN_TYPE' AS item_kind, table_name, col_name AS item,
       |  required, declared,
       |  CASE WHEN required = declared THEN 'OK'
       |       ELSE 'TYPE_MISMATCH' END AS verdict,
       |  CASE WHEN required <> declared THEN
       |    'ALTER TABLE steven.' || table_name || ' MODIFY COLUMN `' ||
       |    col_name || '` ' || lower(required) || ';'
       |  END AS fix_sql
       |FROM t
       |UNION ALL
       |SELECT 'TABLE_COLLATION', table_name, 'UTF8MB4', required,
       |  CASE WHEN i % 2 = 0 THEN 'UTF8MB4_GENERAL_CI'
       |       ELSE required END,
       |  CASE WHEN i % 2 = 0 AND required <> 'UTF8MB4_GENERAL_CI'
       |       THEN 'COLLATION_MISMATCH' ELSE 'OK' END,
       |  CASE WHEN i % 2 = 0 AND required <> 'UTF8MB4_GENERAL_CI' THEN
       |    'ALTER TABLE steven.' || table_name ||
       |    ' CONVERT TO CHARACTER SET utf8mb4 COLLATE ' ||
       |    lower(required) || ';'
       |  END
       |FROM coll
       |UNION ALL
       |SELECT 'PK_ROUTE', table_name, 'PRIMARY_KEY', route, 'nonclustered',
       |  CASE WHEN route = 'nonclustered' THEN 'OK'
       |       ELSE 'CLUSTERED_MISMATCH' END,
       |  CASE WHEN route <> 'nonclustered' THEN
       |    '-- manual [o2t]: clustered attribute is immutable — recreate ' ||
       |    table_name || ' with PRIMARY KEY (`' || pk || '`) CLUSTERED'
       |  END
       |FROM (VALUES
       |  $routeVals) r(table_name, route, pk)
       |UNION ALL
       |SELECT 'FOREIGN_KEY', table_name, fk_name, 'REFERENCES ' || ref_table,
       |  'UNENFORCED', 'MANUAL',
       |  '-- manual [o2t]: tidb does not enforce foreign keys — validate ' ||
       |  fk_name || ' in the application'
       |FROM (VALUES
       |  $fkVals) f(table_name, fk_name, ref_table)""".stripMargin
  }

  /** k8: the T2O check direction (`module/check/mysql/t2o/` — the M2O
    * diff machinery on the TiDB2Oracle charset/collation maps,
    * `common/reverse.go:125-129,291-344`, plus TiDB table options that
    * have no Oracle analogue). Families:
    *
    *  - COLUMN_TYPE — required Oracle type from the shared M2O/T2O
    *    grid vs a drifted declared type → Oracle `MODIFY (col type)`
    *    fixes; SET/ENUM stay UNSUPPORTED → manual;
    *  - TABLE_CHARSET — TiDB charset → Oracle database charset; a
    *    mismatched database charset has NO ALTER (CSALTER/full
    *    migration) → manual note;
    *  - COLLATION — TiDB collation → Oracle NLS behavior; ambiguous
    *    dual renderings (CJK *_CHINESE_CI, *_BIN) divert to manual,
    *    unambiguous mismatches get 12.2 `DEFAULT COLLATION` fixes;
    *  - TABLE_OPTION — SHARD_ROW_ID_BITS/PRE_SPLIT_REGIONS have no
    *    Oracle analogue (manual); a clustered PK maps to an IOT note.
    */
  def k8T2oCheck(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.reverse.{CharsetMaps, M2OTypeMapper, Reverse}
    val tbl = "marvin_tidb"
    val typeRows = Reverse.mysqlZoo.zipWithIndex.map { case (c, i) =>
      (tbl, i + 1, c.name, M2OTypeMapper.oracleType(c))
    }.toDF("table_name", "ordinal", "item", "required")
      .withColumn("declared",
        when(col("ordinal") % 5 === 0, lit("NVARCHAR2(100)"))
          .when(col("ordinal") % 5 === 2, lit("NUMBER"))
          .otherwise(col("required")))
      .select(lit("COLUMN_TYPE").as("item_kind"), col("table_name"),
        col("item"), col("required"), col("declared"),
        when(col("required") === M2OTypeMapper.Unsupported, lit("MANUAL"))
          .when(col("required") === col("declared"), lit("OK"))
          .otherwise(lit("TYPE_MISMATCH")).as("verdict"),
        when(col("required") === M2OTypeMapper.Unsupported,
          concat(lit("-- manual [t2o]: unsupported type for "),
            col("item")))
          .when(col("required") =!= col("declared"),
            concat(lit(s"ALTER TABLE steven.$tbl MODIFY ("), col("item"),
              lit(" "), col("required"), lit(");"))).as("fix_sql"))
    val charsetRows = CharsetMaps.t2oCharset.toSeq.sortBy(_._1)
      .zipWithIndex.map { case ((src, tgt), i) =>
        (tbl, src, tgt, if (i == 0) "WE8ISO8859P1" else tgt)
      }.toDF("table_name", "item", "required", "declared")
      .select(lit("TABLE_CHARSET").as("item_kind"), col("table_name"),
        col("item"), col("required"), col("declared"),
        when(col("required") === col("declared"), lit("OK"))
          .otherwise(lit("CHARSET_MISMATCH")).as("verdict"),
        when(col("required") =!= col("declared"),
          concat(lit("-- manual [t2o]: database charset migration ("),
            col("declared"), lit(" -> "), col("required"),
            lit(") — no ALTER; full migration required"))).as("fix_sql"))
    val collRows = CharsetMaps.t2oNls.toSeq.sortBy(_._1)
      .map { case (src, req) => (tbl, src, req) }
      .toDF("table_name", "item", "required")
      .withColumn("ambiguous", col("required").contains("/"))
      .withColumn("declared",
        when(col("ambiguous"), lit("UNDECIDED")).otherwise(lit("BINARY_CS")))
      .select(lit("COLLATION").as("item_kind"), col("table_name"),
        col("item"), col("required"), col("declared"),
        when(col("ambiguous"), lit("MANUAL"))
          .when(col("required") === col("declared"), lit("OK"))
          .otherwise(lit("COLLATION_MISMATCH")).as("verdict"),
        when(col("ambiguous"),
          concat(lit("-- manual [t2o]: ambiguous collation mapping "),
            col("item"), lit(" -> "), col("required"),
            lit(" — choose one")))
          .when(col("required") =!= col("declared"),
            concat(lit(s"ALTER TABLE steven.$tbl DEFAULT COLLATION "),
              col("required"), lit(";"))).as("fix_sql"))
    val optRows = Reverse.tidbRoutes.map { case (t, route, pk, opt) =>
      (t, route, pk, opt)
    }.toDF("table_name", "route", "pk", "opt")
      .select(lit("TABLE_OPTION").as("item_kind"), col("table_name"),
        when(col("opt") =!= "", col("opt"))
          .otherwise(lit("CLUSTERED_PK")).as("item"),
        col("route").as("required"),
        lit("HEAP").as("declared"),
        when(col("opt") =!= "", lit("MANUAL"))
          .otherwise(lit("NOTE")).as("verdict"),
        when(col("opt") =!= "",
          concat(lit("-- manual [t2o]: no oracle analogue for "),
            col("opt")))
          .otherwise(concat(
            lit("-- note [t2o]: clustered primary key (`"), col("pk"),
            lit("`) maps to ORGANIZATION INDEX (IOT)"))).as("fix_sql"))
    typeRows.unionByName(charsetRows).unionByName(collRows)
      .unionByName(optRows)
  }

  val k8Sql: String = {
    import graft.reverse.{CharsetMaps, Reverse}
    val tbl = "marvin_tidb"
    val csVals = CharsetMaps.t2oCharset.keys.toSeq.sorted.zipWithIndex
      .map { case (c, i) => s"('$c', $i)" }.mkString(",\n  ")
    val coVals = CharsetMaps.t2oNls.keys.toSeq.sorted
      .map(c => s"('$c')").mkString(",\n  ")
    val routeVals = Reverse.tidbRoutes.map { case (t, r, pk, opt) =>
      s"('$t', '$r', '$pk', '$opt')"
    }.mkString(",\n  ")
    s"""WITH ${Reverse.mysqlZooCte},
       |req AS (
       |  SELECT '$tbl' AS table_name, ordinal, col_name,
       |    ${Reverse.m2oCaseSql} AS required
       |  FROM mzoo),
       |t AS (
       |  SELECT *,
       |    CASE WHEN ordinal % 5 = 0 THEN 'NVARCHAR2(100)'
       |         WHEN ordinal % 5 = 2 THEN 'NUMBER'
       |         ELSE required END AS declared
       |  FROM req),
       |co AS (
       |  SELECT source,
       |    CASE WHEN source = 'UTF8MB4_0900_AS_CI' THEN 'BINARY_CI'
       |         WHEN source LIKE '%\\_GENERAL\\_CI' ESCAPE '\\'
       |           THEN 'BINARY_AI'
       |         WHEN source LIKE '%\\_CHINESE\\_CI' ESCAPE '\\'
       |           THEN 'BINARY_AI/BINARY_CI'
       |         ELSE 'BINARY/BINARY_CS' END AS required
       |  FROM (VALUES
       |  $coVals) c(source))
       |SELECT 'COLUMN_TYPE' AS item_kind, table_name, col_name AS item,
       |  required, declared,
       |  CASE WHEN required = 'UNSUPPORTED' THEN 'MANUAL'
       |       WHEN required = declared THEN 'OK'
       |       ELSE 'TYPE_MISMATCH' END AS verdict,
       |  CASE WHEN required = 'UNSUPPORTED'
       |         THEN '-- manual [t2o]: unsupported type for ' || col_name
       |       WHEN required <> declared THEN
       |         'ALTER TABLE steven.$tbl MODIFY (' || col_name || ' ' ||
       |         required || ');'
       |  END AS fix_sql
       |FROM t
       |UNION ALL
       |SELECT 'TABLE_CHARSET', '$tbl', source,
       |  CASE WHEN source = 'GBK' THEN 'ZHS16GBK' ELSE 'AL32UTF8' END,
       |  CASE WHEN i = 0 THEN 'WE8ISO8859P1'
       |       WHEN source = 'GBK' THEN 'ZHS16GBK' ELSE 'AL32UTF8' END,
       |  CASE WHEN i = 0 THEN 'CHARSET_MISMATCH' ELSE 'OK' END,
       |  CASE WHEN i = 0 THEN
       |    '-- manual [t2o]: database charset migration (WE8ISO8859P1 -> ' ||
       |    CASE WHEN source = 'GBK' THEN 'ZHS16GBK' ELSE 'AL32UTF8' END ||
       |    ') — no ALTER; full migration required'
       |  END
       |FROM (VALUES
       |  $csVals) cs(source, i)
       |UNION ALL
       |SELECT 'COLLATION', '$tbl', source, required,
       |  CASE WHEN required LIKE '%/%' THEN 'UNDECIDED'
       |       ELSE 'BINARY_CS' END,
       |  CASE WHEN required LIKE '%/%' THEN 'MANUAL'
       |       WHEN required = 'BINARY_CS' THEN 'OK'
       |       ELSE 'COLLATION_MISMATCH' END,
       |  CASE WHEN required LIKE '%/%' THEN
       |    '-- manual [t2o]: ambiguous collation mapping ' || source ||
       |    ' -> ' || required || ' — choose one'
       |  WHEN required <> 'BINARY_CS' THEN
       |    'ALTER TABLE steven.$tbl DEFAULT COLLATION ' || required || ';'
       |  END
       |FROM co
       |UNION ALL
       |SELECT 'TABLE_OPTION', table_name,
       |  CASE WHEN opt <> '' THEN opt ELSE 'CLUSTERED_PK' END,
       |  route, 'HEAP',
       |  CASE WHEN opt <> '' THEN 'MANUAL' ELSE 'NOTE' END,
       |  CASE WHEN opt <> '' THEN
       |    '-- manual [t2o]: no oracle analogue for ' || opt
       |  ELSE
       |    '-- note [t2o]: clustered primary key (`' || pk ||
       |    '`) maps to ORGANIZATION INDEX (IOT)'
       |  END
       |FROM (VALUES
       |  $routeVals) r(table_name, route, pk, opt)""".stripMargin
  }

  /** Constraint fixture for k11 — one row per constraint kind branch
    * of the reference's diff (`module/check/oracle/o2m/diff.go:
    * 292-420`): PK, UK, FK (with referenced table/column + delete
    * rule), CHECK (with expression).
    * (table, kind, name, columns, ref_table, ref_col, delete_rule,
    * expr, on_target)
    */
  val constraintFixture
      : Seq[(String, String, String, String, String, String, String,
        String, Boolean)] = Seq(
    ("marvin2", "PK", "pk_m2", "n1", "", "", "", "", false),
    ("marvin2", "UK", "uk_m2_vchar3", "vchar3", "", "", "", "", false),
    ("marvin1lite", "PK", "pk_m1l", "id", "", "", "", "", true),
    ("marvin2", "FK", "fk_m2_m1l", "n4", "marvin1lite", "id", "CASCADE",
      "", false),
    ("marvin2", "CK", "ck_m2_n2", "", "", "", "", "n2 > 0", false),
    ("marvin1lite", "CK", "ck_m1l_id", "", "", "", "", "id IS NOT NULL",
      true))

  /** The reference only emits CHECK fixes when the target version
    * supports them (`diff.go:374-383`, gate at MySQL > 8.0.15 via the
    * F7 version-ordinal compare). The gate runs at plan-build time
    * against the pinned target version, exactly like the reference
    * reads `c.MySQLDBVersion` once per task.
    */
  val k11TargetVersion = "8.0.20"

  /** k11: constraint diff — source PK/UK/FK/CHECK constraints missing
    * on the target synthesize the reference's exact ADD statements
    * (`diff.go:292-420`; like the reference, only the missing-on-
    * target side emits — target-extra constraints are ignored there
    * too). CHECK fixes are gated on the target version through
    * [[graft.functions.VersionUtil]].
    */
  def k11ConstraintDiff(s: SparkSession, d: String): DataFrame =
    k11ConstraintDiffFor(s, k11TargetVersion)

  private[graft] def k11ConstraintDiffFor(s: SparkSession,
      targetVersion: String): DataFrame = {
    import s.implicits._
    import graft.functions.VersionUtil
    val ckSupported = VersionUtil.compare(targetVersion, "8.0.15") > 0
    val rows = constraintFixture.toDF("table_name", "kind", "item",
      "cols", "ref_table", "ref_col", "delete_rule", "expr", "on_target")
    val qualified = concat(lit("steven."), col("table_name"))
    val fix =
      when(col("kind") === "PK", concat(lit("ALTER TABLE "), qualified,
        lit(" ADD PRIMARY KEY("), col("cols"), lit(");")))
        .when(col("kind") === "UK", concat(lit("ALTER TABLE "), qualified,
          lit(" ADD UNIQUE("), col("cols"), lit(");")))
        .when(col("kind") === "FK", concat(lit("ALTER TABLE "), qualified,
          lit(" ADD FOREIGN KEY("), col("cols"),
          lit(") REFERENCES steven."), col("ref_table"), lit("("),
          col("ref_col"), lit(") ON DELETE "), col("delete_rule"),
          lit(";")))
        .when(col("kind") === "CK" && lit(ckSupported),
          concat(lit("ALTER TABLE "), qualified, lit(" ADD CONSTRAINT "),
            col("table_name"), lit("_check_key CHECK("), col("expr"),
            lit(");")))
    val verdict =
      when(col("on_target"), lit("OK"))
        .when(col("kind") === "CK" && !lit(ckSupported),
          lit("VERSION_SKIPPED"))
        .otherwise(lit("MISSING"))
    rows.select(col("table_name"), col("kind"), col("item"),
      verdict.as("verdict"),
      when(!col("on_target"), fix).as("fix_sql"))
  }

  val k11Sql: String = {
    val values = constraintFixture.map {
      case (t, k, n, c, rt, rc, dr, ex, ot) =>
        s"('$t', '$k', '$n', '$c', '$rt', '$rc', '$dr', '$ex', " +
          s"${if (ot) "TRUE" else "FALSE"})"
    }.mkString(",\n  ")
    // the version gate resolves at build time from the SAME compare
    // the engine uses — changing k11TargetVersion moves both sides
    // together (a hand-pinned TRUE here would desynchronize the
    // VERSION_SKIPPED branch from the oracle)
    val ckSupported =
      graft.functions.VersionUtil.compare(k11TargetVersion, "8.0.15") > 0
    val ckGate = if (ckSupported) "TRUE" else "FALSE"
    s"""SELECT table_name, kind, item,
       |  CASE WHEN on_target THEN 'OK'
       |       WHEN kind = 'CK' AND NOT $ckGate THEN 'VERSION_SKIPPED'
       |       ELSE 'MISSING' END AS verdict,
       |  CASE WHEN on_target THEN NULL
       |    WHEN kind = 'PK' THEN 'ALTER TABLE steven.' || table_name ||
       |      ' ADD PRIMARY KEY(' || cols || ');'
       |    WHEN kind = 'UK' THEN 'ALTER TABLE steven.' || table_name ||
       |      ' ADD UNIQUE(' || cols || ');'
       |    WHEN kind = 'FK' THEN 'ALTER TABLE steven.' || table_name ||
       |      ' ADD FOREIGN KEY(' || cols || ') REFERENCES steven.' ||
       |      ref_table || '(' || ref_col || ') ON DELETE ' ||
       |      delete_rule || ';'
       |    WHEN kind = 'CK' AND $ckGate
       |      THEN 'ALTER TABLE steven.' || table_name ||
       |      ' ADD CONSTRAINT ' || table_name || '_check_key CHECK(' ||
       |      expr || ');'
       |  END AS fix_sql
       |FROM (VALUES
       |  $values) f(table_name, kind, item, cols, ref_table, ref_col,
       |             delete_rule, expr, on_target)""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("k11_constraint_diff", k11ConstraintDiff, k11Sql),
    Query("k1_struct_diff", k1StructDiff, k1Sql),
    Query("k3_index_diff", k3IndexDiff, k3Sql),
    Query("k4_type_rule_check", k4TypeRuleCheck, k4Sql),
    Query("k5_jdbc_catalog", k5JdbcCatalog, k5Sql),
    Query("k6_m2o_struct_diff", k6M2oStructDiff, k6Sql),
    Query("k7_o2t_check", k7O2tCheck, k7Sql),
    Query("k8_t2o_check", k8T2oCheck, k8Sql),
    Query("a19_object_overview", a19ObjectOverview, a19Sql),
    Query("a36_assess_report", a36AssessReport, a36Sql))

  /** The oracle SQL registered for `name` (the task-mode benchmark
    * recomputes its checks with it).
    */
  def oracles(name: String): String = registry.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"no Check query $name"))
    .oracle
}
