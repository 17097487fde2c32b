package graft.reverse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Reverse-engine queries: type mapping, NUMBER bucket sweep, and DDL
  * synthesis — oracle-checked against an independent DuckDB CASE-tree
  * implementation of the same rules.
  *
  * The fixture is the reference's own type zoo
  * (`example/reverse_oracle_test.sql:1-55`, table marvin2 — every
  * NUMBER precision bucket, all char/nchar variants, LOBs, intervals,
  * RAW/ROWID/BFILE/XMLTYPE, TIMESTAMP precisions) plus a small
  * not-null/default table modeled on marvin1. Both engines receive
  * the same raw catalog attributes; each maps them with its OWN
  * implementation (Scala ADT vs SQL CASE), so a bucket-boundary bug
  * on either side breaks the hash match.
  *
  * Scale note: schema mapping is bounded catalog work; it runs as a
  * dataframe here because check/assess pipe catalog Datasets through
  * the same rules at fleet scale (10⁵ tables × columns), where
  * per-partition mapping beats a driver loop.
  */
object Reverse {

  /** One catalog row of the fixture (dba_tab_columns shape). */
  final case class ZooCol(table_name: String, ordinal: Int,
      col_name: String, data_type: String, p: Option[Int], s: Option[Int],
      len: Int, char_len: Option[Int], char_used: String,
      nullable: Boolean, dflt: Option[String])

  private def zc(t: String, i: Int, n: String, dt: String,
      p: Option[Int] = None, s: Option[Int] = None, len: Int = 0,
      cl: Option[Int] = None, cu: String = "B", nullable: Boolean = true,
      dflt: Option[String] = None) =
    ZooCol(t, i, n, dt, p, s, len, cl, cu, nullable, dflt)

  /** marvin2 type zoo (`example/reverse_oracle_test.sql:3-55`) +
    * BINARY_FLOAT/BINARY_DOUBLE/BLOB/LONG rows (present elsewhere in
    * the reference's type table `common/buildin.go:130-203` but not in
    * marvin2) so every built-in branch is exercised.
    */
  val zoo: Seq[ZooCol] = {
    val t = "marvin2"
    Seq(
      zc(t, 1, "n1", "NUMBER", nullable = false),
      zc(t, 2, "n2", "NUMBER", p = Some(2)),
      zc(t, 3, "n3", "NUMBER", p = Some(4)),
      zc(t, 4, "n4", "NUMBER", p = Some(8)),
      zc(t, 5, "n5", "NUMBER", p = Some(12), s = Some(0)),
      zc(t, 6, "n6", "NUMBER", p = Some(13)),
      zc(t, 7, "n7", "NUMBER", p = Some(30)),
      zc(t, 8, "n8", "NUMBER", p = Some(30), s = Some(2)),
      zc(t, 9, "n9", "NUMERIC", p = Some(10), s = Some(2)),
      zc(t, 10, "n10", "NUMERIC", p = Some(10)),
      zc(t, 11, "nbfile", "BFILE"),
      zc(t, 12, "vchar1", "VARCHAR", len = 10),
      zc(t, 13, "vchar2", "VARCHAR", len = 3000),
      zc(t, 14, "vchar3", "VARCHAR2", len = 10),
      zc(t, 15, "vchar4", "VARCHAR2", len = 3000),
      zc(t, 16, "char1", "CHAR", len = 23),
      zc(t, 17, "char2", "CHAR", len = 300),
      zc(t, 18, "char3", "CHARACTER", len = 23),
      zc(t, 19, "char4", "CHARACTER", len = 300),
      // NCHAR family is always char-semantics: len = 2×char_len
      zc(t, 20, "char5", "NCHAR", len = 46, cl = Some(23), cu = "C"),
      zc(t, 21, "char6", "NCHAR", len = 600, cl = Some(300), cu = "C"),
      zc(t, 22, "char7", "NCHAR VARYING", len = 20, cl = Some(10), cu = "C"),
      zc(t, 23, "char8", "NCHAR VARYING", len = 600, cl = Some(300), cu = "C"),
      zc(t, 24, "char9", "NVARCHAR2", len = 20, cl = Some(10), cu = "C"),
      zc(t, 25, "char10", "NVARCHAR2", len = 600, cl = Some(300), cu = "C"),
      zc(t, 26, "dlob", "CLOB"),
      zc(t, 27, "cflob", "NCLOB"),
      zc(t, 28, "ndate", "DATE"),
      zc(t, 29, "ndecimal1", "DECIMAL"),
      zc(t, 30, "ndecimal2", "DECIMAL", p = Some(10), s = Some(2)),
      zc(t, 31, "ndecimal3", "DEC", p = Some(10), s = Some(2)),
      zc(t, 32, "ndecimal4", "DEC"),
      zc(t, 33, "dp1", "DOUBLE PRECISION"),
      zc(t, 34, "fp1", "FLOAT", p = Some(2)),
      zc(t, 35, "fp2", "FLOAT"),
      zc(t, 36, "fy2", "INTEGER"),
      zc(t, 37, "fy4", "INT"),
      zc(t, 38, "fy5", "SMALLINT"),
      zc(t, 39, "yt", "INTERVAL YEAR(5) TO MONTH"),
      zc(t, 40, "yu", "INTERVAL DAY(6) TO SECOND(3)"),
      zc(t, 41, "hp", "LONG RAW"),
      zc(t, 42, "rw1", "RAW", len = 10),
      zc(t, 43, "rw2", "RAW", len = 300),
      zc(t, 44, "rl", "REAL"),
      zc(t, 45, "rd1", "ROWID"),
      zc(t, 46, "rd2", "UROWID", len = 100),
      zc(t, 47, "tp1", "TIMESTAMP"),
      zc(t, 48, "tp2", "TIMESTAMP(3)", s = Some(3)),
      zc(t, 49, "tp3", "TIMESTAMP(5)", s = Some(5)),
      zc(t, 50, "tp4", "TIMESTAMP(5) WITH TIME ZONE", s = Some(5)),
      zc(t, 51, "xt", "XMLTYPE"),
      zc(t, 52, "bf1", "BINARY_FLOAT"),
      zc(t, 53, "bd1", "BINARY_DOUBLE"),
      zc(t, 54, "blb1", "BLOB"),
      zc(t, 55, "lng1", "LONG")) ++ Seq(
      // not-null / default paths, modeled on marvin1
      // (`reverse_oracle_test.sql:59-72`) and T6 (`reverse_marvin.sql:36-44`)
      zc("marvin1lite", 1, "id", "NUMBER", p = Some(8), nullable = false),
      zc("marvin1lite", 2, "name", "VARCHAR2", len = 10,
        dflt = Some("'ty'")),
      zc("marvin1lite", 3, "created", "DATE", dflt = Some("SYSDATE")),
      zc("marvin1lite", 4, "guid", "VARCHAR2", len = 32,
        dflt = Some("SYS_GUID()")))
  }

  private[graft] def toOracleColumn(z: ZooCol): OracleColumn =
    OracleColumn(z.col_name, z.data_type, z.len, z.p, z.s, z.char_len,
      z.char_used, z.nullable, z.dflt)

  // ---------------------------------------------------------- SQL mirror

  private def vStr(x: String) = "'" + x.replace("'", "''") + "'"
  private def vInt(o: Option[Int]) = o.map(_.toString).getOrElse("NULL")
  private def vStrO(o: Option[String]) = o.map(vStr).getOrElse("NULL")

  /** The fixture as a VALUES relation — shared INPUT, not shared
    * logic: each engine maps the attributes with its own rule tree.
    */
  private val zooValues: String = zoo.map { z =>
    s"(${vStr(z.table_name)}, ${z.ordinal}, ${vStr(z.col_name)}, " +
      s"${vStr(z.data_type)}, ${vInt(z.p)}, ${vInt(z.s)}, ${z.len}, " +
      s"${vInt(z.char_len)}, ${vStr(z.char_used)}, " +
      s"${if (z.nullable) "TRUE" else "FALSE"}, ${vStrO(z.dflt)})"
  }.mkString(",\n  ")

  private[graft] val zooCte: String =
    s"""zoo(table_name, ordinal, col_name, data_type, p, s, len,
       |    char_len, char_used, nullable, dflt) AS (VALUES
       |  $zooValues)""".stripMargin

  /** Derived attributes both CASE trees consume: normalized NUMBER
    * (np, ns), declared char length (clen), capped timestamp scale
    * (tss) — mirroring [[TypeMapper.normalizeNumber]] and the char/ts
    * rules.
    */
  private[graft] val deriveSql: String =
    """SELECT *,
      |  coalesce(p, 38) AS np,
      |  greatest(CASE WHEN p IS NULL THEN coalesce(s, 127)
      |                ELSE coalesce(s, 0) END, 0) AS ns,
      |  CASE WHEN char_used = 'C' THEN coalesce(char_len, len)
      |       ELSE len END AS clen,
      |  least(coalesce(s,
      |    TRY_CAST(regexp_extract(data_type, 'TIMESTAMP\((\d+)\)', 1)
      |             AS INT), 6), 6) AS tss""".stripMargin

  /** Independent DuckDB implementation of the MySQL mapping
    * (`mapping_mysql.go:83-560`).
    */
  private[graft] val mysqlCaseSql: String =
    """CASE
      | WHEN data_type = 'NUMBER' AND ns > 0 THEN CASE
      |   WHEN np = 38 AND ns > 30 THEN 'DECIMAL(65,30)'
      |   WHEN np = 38 THEN 'DECIMAL(65,' || CAST(ns AS VARCHAR) || ')'
      |   WHEN ns <= 30 THEN 'DECIMAL(' || CAST(np AS VARCHAR) || ',' || CAST(ns AS VARCHAR) || ')'
      |   ELSE 'DECIMAL(' || CAST(np AS VARCHAR) || ',30)' END
      | WHEN data_type = 'NUMBER' THEN CASE
      |   WHEN np >= 1 AND np < 3 THEN 'TINYINT'
      |   WHEN np >= 3 AND np < 5 THEN 'SMALLINT'
      |   WHEN np >= 5 AND np < 9 THEN 'INT'
      |   WHEN np >= 9 AND np < 19 THEN 'BIGINT'
      |   WHEN np >= 19 AND np <= 38 THEN 'DECIMAL(' || CAST(np AS VARCHAR) || ')'
      |   ELSE 'DECIMAL(65,0)' END
      | WHEN data_type = 'BFILE' THEN 'VARCHAR(255)'
      | WHEN data_type IN ('CHAR','CHARACTER','NCHAR','NVARCHAR2','VARCHAR','VARCHAR2')
      |   THEN 'VARCHAR(' || CAST(clen AS VARCHAR) || ')'
      | WHEN data_type = 'NCHAR VARYING' THEN 'NCHAR VARYING(' || CAST(clen AS VARCHAR) || ')'
      | WHEN data_type IN ('CLOB','LONG','XMLTYPE') THEN 'LONGTEXT'
      | WHEN data_type = 'NCLOB' THEN 'TEXT'
      | WHEN data_type = 'BLOB' THEN 'BLOB'
      | WHEN data_type = 'LONG RAW' THEN 'LONGBLOB'
      | WHEN data_type = 'RAW' THEN 'VARBINARY(' || CAST(len AS VARCHAR) || ')'
      | WHEN data_type = 'DATE' THEN 'DATETIME'
      | WHEN data_type IN ('DECIMAL','DEC')
      |   THEN 'DECIMAL(' || CAST(coalesce(p, 38) AS VARCHAR) || ',' || CAST(coalesce(s, 0) AS VARCHAR) || ')'
      | WHEN data_type = 'NUMERIC'
      |   THEN 'NUMERIC(' || CAST(coalesce(p, 38) AS VARCHAR) || ',' || CAST(coalesce(s, 0) AS VARCHAR) || ')'
      | WHEN data_type = 'DOUBLE PRECISION' THEN 'DOUBLE PRECISION'
      | WHEN data_type IN ('FLOAT','BINARY_FLOAT','BINARY_DOUBLE','REAL') THEN 'DOUBLE'
      | WHEN data_type IN ('INTEGER','INT') THEN 'INT'
      | WHEN data_type = 'SMALLINT' THEN 'SMALLINT'
      | WHEN data_type = 'ROWID' THEN 'VARCHAR(64)'
      | WHEN data_type = 'UROWID' THEN 'VARCHAR(' || CAST(len AS VARCHAR) || ')'
      | WHEN data_type LIKE 'INTERVAL YEAR%' THEN 'VARCHAR(30)'
      | WHEN data_type LIKE 'INTERVAL DAY%' THEN 'VARCHAR(30)'
      | WHEN data_type LIKE '%TIME ZONE%' THEN 'DATETIME(' || CAST(tss AS VARCHAR) || ')'
      | WHEN data_type LIKE 'TIMESTAMP%' THEN 'TIMESTAMP(' || CAST(tss AS VARCHAR) || ')'
      | ELSE 'TEXT'
      |END""".stripMargin

  /** Independent DuckDB implementation of the Spark ingestion mapping
    * ([[TypeMapper.sparkType]]).
    */
  private val sparkCaseSql: String =
    """CASE
      | WHEN data_type = 'NUMBER' AND ns > 0
      |   THEN 'DECIMAL(' || CAST(least(np, 38) AS VARCHAR) || ',' || CAST(least(ns, least(np, 38)) AS VARCHAR) || ')'
      | WHEN data_type = 'NUMBER' THEN CASE
      |   WHEN np >= 1 AND np < 3 THEN 'TINYINT'
      |   WHEN np >= 3 AND np < 5 THEN 'SMALLINT'
      |   WHEN np >= 5 AND np < 9 THEN 'INT'
      |   WHEN np >= 9 AND np < 19 THEN 'BIGINT'
      |   ELSE 'DECIMAL(' || CAST(least(np, 38) AS VARCHAR) || ',0)' END
      | WHEN data_type IN ('DECIMAL','DEC','NUMERIC')
      |   THEN 'DECIMAL(' || CAST(least(coalesce(p, 38), 38) AS VARCHAR) || ',' || CAST(least(coalesce(s, 0), 38) AS VARCHAR) || ')'
      | WHEN data_type IN ('FLOAT','DOUBLE PRECISION','BINARY_DOUBLE','REAL') THEN 'DOUBLE'
      | WHEN data_type = 'BINARY_FLOAT' THEN 'FLOAT'
      | WHEN data_type IN ('INTEGER','INT') THEN 'INT'
      | WHEN data_type = 'SMALLINT' THEN 'SMALLINT'
      | WHEN data_type IN ('RAW','LONG RAW','BLOB','BFILE') THEN 'BINARY'
      | WHEN data_type = 'DATE' OR data_type LIKE '%TIMESTAMP%' THEN 'TIMESTAMP'
      | ELSE 'STRING'
      |END""".stripMargin

  // ------------------------------------------------------------- queries

  /** r1: the full type zoo mapped three ways — canonical origin type,
    * MySQL DDL type, Spark ingestion type. Spark side runs the Scala
    * rule tree ([[TypeMapper]]); the oracle runs the independent SQL
    * CASE trees over identical raw attributes.
    */
  def r1TypeMapping(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    zoo.map { z =>
      val c = toOracleColumn(z)
      (z.col_name, TypeMapper.originType(c), TypeMapper.mysqlType(c),
        TypeMapper.sparkType(c).sql)
    }.toDF("col_name", "oracle_type", "mysql_type", "spark_type")
  }

  /** SQL mirror of [[TypeMapper.originType]] (shared by r1 and k9). */
  private[graft] val originCaseSql: String =
    """CASE
      | WHEN data_type = 'NUMBER'
      |   THEN 'NUMBER(' || CAST(np AS VARCHAR) || ',' || CAST(ns AS VARCHAR) || ')'
      | WHEN data_type IN ('CHAR','CHARACTER','NCHAR','NCHAR VARYING','NVARCHAR2','VARCHAR','VARCHAR2')
      |   THEN data_type || '(' || CAST(clen AS VARCHAR) || ')'
      | WHEN data_type IN ('DECIMAL','DEC','NUMERIC')
      |   THEN data_type || '(' || CAST(coalesce(p, 38) AS VARCHAR) || ',' || CAST(coalesce(s, 0) AS VARCHAR) || ')'
      | WHEN data_type IN ('RAW','UROWID') THEN data_type || '(' || CAST(len AS VARCHAR) || ')'
      | ELSE data_type
      |END""".stripMargin

  val r1Sql: String = {
    val originCase = originCaseSql
    s"""WITH $zooCte,
       |n AS ($deriveSql FROM zoo)
       |SELECT col_name,
       |  $originCase AS oracle_type,
       |  $mysqlCaseSql AS mysql_type,
       |  $sparkCaseSql AS spark_type
       |FROM n""".stripMargin
  }

  /** r2: exhaustive NUMBER bucket sweep — every integer precision
    * 1..38 at scale 0 (all five bucket boundaries), crossed with the
    * interesting scales {1,2,29,30,31,127} at boundary precisions —
    * the property-test grid as an oracle-checked query.
    */
  val numberGrid: Seq[(Int, Int)] =
    (1 to 38).map((_, 0)) ++
      (for {
        p <- Seq(1, 5, 10, 19, 37, 38)
        s <- Seq(1, 2, 29, 30, 31, 127)
      } yield (p, s))

  def r2NumberBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    numberGrid.map { case (p, sc) =>
      val c = OracleColumn("c", "NUMBER", 22, Some(p), Some(sc))
      (p, sc, TypeMapper.mysqlType(c), TypeMapper.sparkType(c).sql)
    }.toDF("p", "s", "mysql_type", "spark_type")
  }

  val r2Sql: String =
    s"""WITH grid AS (
       |  SELECT CAST(p AS INT) AS p, 0 AS s FROM range(1, 39) r(p)
       |  UNION ALL
       |  SELECT tp.p, ts.s
       |  FROM (VALUES (1),(5),(10),(19),(37),(38)) tp(p),
       |       (VALUES (1),(2),(29),(30),(31),(127)) ts(s)),
       |n AS (SELECT 'NUMBER' AS data_type, p, s, p AS np,
       |             greatest(s, 0) AS ns,
       |             NULL AS clen, NULL AS len, NULL AS tss
       |      FROM grid)
       |SELECT p, s, $mysqlCaseSql AS mysql_type, $sparkCaseSql AS spark_type
       |FROM n""".stripMargin

  /** r3: DDL synthesis as an engine op — per-column DDL lines rendered
    * from catalog attributes (type via the [[TypeMapper]] udf on the
    * Spark side; the CASE tree on the oracle side), nullability and
    * rewritten defaults appended, then aggregated in ordinal order
    * into the CREATE TABLE text (format per
    * `example/reverse_marvin.sql:36-44`). Each engine assembles
    * independently: string_agg-with-ORDER-BY vs
    * array_sort(collect_list).
    */
  /** Per-column MySQL/TiDB DDL lines from the zoo — shared by the
    * O2M (r3) and O2T (r5) assemblies; the dialects differ only in
    * keys and table suffix, never in column rendering
    * (`module/reverse/oracle/o2t/rule.go` reuses the o2m column
    * path).
    */
  private def ddlLines(s: SparkSession): DataFrame = {
    import s.implicits._
    val mysqlTypeUdf = udf((dt: String, p: java.lang.Integer,
        sc: java.lang.Integer, len: Int, cl: java.lang.Integer,
        cu: String) =>
      TypeMapper.mysqlType(OracleColumn("x", dt, len,
        Option(p).map(_.toInt), Option(sc).map(_.toInt),
        Option(cl).map(_.toInt), cu)))
    // defaults rewrite through the ONE rule table (TypeMapper.mapDefault)
    // — an inline when-chain copy here could drift from it
    val mapDefaultUdf = udf((v: String) =>
      TypeMapper.mapDefault(Option(v)))
    zoo.toDF()
      .withColumn("mysql_type", mysqlTypeUdf(col("data_type"), col("p"),
        col("s"), col("len"), col("char_len"), col("char_used")))
      .withColumn("mapped_dflt", mapDefaultUdf(col("dflt")))
      .withColumn("line", concat(
        lit("`"), col("col_name"), lit("` "), lower(col("mysql_type")),
        when(!col("nullable"), lit(" NOT NULL")).otherwise(lit("")),
        when(col("dflt").isNotNull,
          concat(lit(" DEFAULT "), col("mapped_dflt"))).otherwise(lit(""))))
  }

  /** Ordinal-ordered column-list aggregation (independent of the
    * oracle's string_agg-with-ORDER-BY formulation).
    */
  private def aggLines(lines: DataFrame): DataFrame =
    lines.groupBy(col("table_name"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ordinal"), col("line")))),
        x => x.getField("line")), ",\n").as("cols"))

  /** SQL mirror of [[ddlLines]] (`n` and `lines` CTE bodies). */
  private val ddlLinesSql: String =
    s"""n AS ($deriveSql FROM zoo),
       |lines AS (
       |  SELECT table_name, ordinal,
       |    '`' || col_name || '` ' || lower($mysqlCaseSql) ||
       |    CASE WHEN NOT nullable THEN ' NOT NULL' ELSE '' END ||
       |    CASE WHEN dflt IS NOT NULL THEN ' DEFAULT ' ||
       |      CASE WHEN upper(dflt) = 'SYSDATE' THEN 'NOW()'
       |           WHEN upper(dflt) = 'SYS_GUID()' THEN 'UUID()'
       |           ELSE dflt END
       |      ELSE '' END AS line
       |  FROM n)""".stripMargin

  def r3DdlSynthesis(s: SparkSession, d: String): DataFrame = {
    // suffix derived from the structure-level matrices, not pinned:
    // AL32UTF8 source + BINARY_CS (the no-extension Oracle default)
    // → utf8mb4 / utf8mb4_bin
    val (cs, coll) =
      CharsetMaps.tableCharsetCollation("O2M", "AL32UTF8", "BINARY_CS")
    aggLines(ddlLines(s))
      .select(col("table_name"), concat(
        lit("CREATE TABLE `steven`.`"), col("table_name"), lit("` (\n"),
        col("cols"),
        lit(s"\n) ENGINE=InnoDB DEFAULT CHARSET=${cs.toLowerCase}" +
          s" COLLATE=${coll.toLowerCase};")).as("ddl"))
  }

  val r3Sql: String =
    s"""WITH $zooCte,
       |$ddlLinesSql
       |SELECT table_name,
       |  'CREATE TABLE `steven`.`' || table_name || '` (' || chr(10) ||
       |  string_agg(line, ',' || chr(10) ORDER BY ordinal) || chr(10) ||
       |  ') ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_bin;' AS ddl
       |FROM lines GROUP BY table_name""".stripMargin

  /** Per-table TiDB routing for the O2T variant
    * (`module/reverse/oracle/o2t/rule.go:230-400`): a clustered-index
    * table renders `PRIMARY KEY (...) CLUSTERED` and takes NO
    * table-option; a nonclustered table renders `NONCLUSTERED` (when
    * it has a PK) and may carry a TiDB table-option suffix
    * (SHARD_ROW_ID_BITS spreads the implicit _tidb_rowid hot spot).
    */
  val tidbRoutes: Seq[(String, String, String, String)] = Seq(
    // (table_name, route, pk_cols, table_option)
    ("marvin1lite", "clustered", "id", ""),
    ("marvin2", "nonclustered", "",
      "SHARD_ROW_ID_BITS=4 PRE_SPLIT_REGIONS=4"))

  /** r5: the O2T (TiDB) DDL variant — same column rules as O2M, TiDB
    * key/suffix dialect (`o2t/rule.go:241-250,379-400`; no FK
    * emission for TiDB pre-v6.6 semantics).
    */
  def r5O2tDdl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val routes = tidbRoutes
      .toDF("table_name", "route", "pk_cols", "table_option")
    aggLines(ddlLines(s)).join(routes, Seq("table_name"), "left")
      .select(col("table_name"), concat(
        lit("CREATE TABLE `steven`.`"), col("table_name"), lit("` (\n"),
        col("cols"),
        when(col("pk_cols") =!= "", concat(
          lit(",\nPRIMARY KEY (`"), col("pk_cols"), lit("`) "),
          upper(col("route")))).otherwise(lit("")),
        lit("\n) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_bin"),
        when(col("route") === "nonclustered" && col("table_option") =!= "",
          concat(lit(" "), col("table_option"))).otherwise(lit("")),
        lit(";")).as("ddl"))
  }

  val r5Sql: String = {
    val routeValues = tidbRoutes.map { case (t, r, pk, opt) =>
      s"(${vStr(t)}, ${vStr(r)}, ${vStr(pk)}, ${vStr(opt)})"
    }.mkString(",\n  ")
    s"""WITH $zooCte,
       |$ddlLinesSql,
       |routes(table_name, route, pk_cols, table_option) AS (VALUES
       |  $routeValues),
       |agg AS (
       |  SELECT table_name,
       |    string_agg(line, ',' || chr(10) ORDER BY ordinal) AS cols
       |  FROM lines GROUP BY table_name)
       |SELECT agg.table_name,
       |  'CREATE TABLE `steven`.`' || agg.table_name || '` (' || chr(10) ||
       |  cols ||
       |  CASE WHEN routes.pk_cols <> '' THEN
       |    ',' || chr(10) || 'PRIMARY KEY (`' || routes.pk_cols || '`) ' ||
       |    upper(routes.route)
       |  ELSE '' END || chr(10) ||
       |  ') ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_bin' ||
       |  CASE WHEN routes.route = 'nonclustered' AND routes.table_option <> ''
       |       THEN ' ' || routes.table_option ELSE '' END || ';' AS ddl
       |FROM agg LEFT JOIN routes ON agg.table_name = routes.table_name""".stripMargin
  }

  // -------------------------------------------------- compat filter (P6)

  /** Table-kind fixture for the compatible-object filter — the
    * reference partitions the table list into partition/temporary/
    * clustered/materialized-view buckets and diverts them to the
    * compatibility report instead of normal reverse
    * (`module/reverse/oracle/public/filter.go:102-187`; the partition
    * divert is visible in `example/reverse_marvin.sql`'s
    * LIST_PARTITION_TABLE/HASH_RANG entries).
    */
  val tableKinds: Seq[(String, String, Boolean)] = Seq(
    // (table_name, kind, temporary)
    ("marvin2", "HEAP", false),
    ("marvin1lite", "HEAP", false),
    ("list_partition_table", "PARTITIONED", false),
    ("hash_rang", "PARTITIONED", false),
    ("gtt_stage", "HEAP", true),
    ("iot_lookup", "CLUSTERED", false),
    ("mv_summary", "MATERIALIZED VIEW", false))

  /** p6: classify each table into its migration route. */
  def p6CompatFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    tableKinds.toDF("table_name", "kind", "temporary")
      .withColumn("route",
        when(col("temporary"), lit("DIVERT_TEMPORARY"))
          .when(col("kind") === "PARTITIONED", lit("COMPAT_PARTITION"))
          .when(col("kind") === "CLUSTERED", lit("DIVERT_CLUSTERED"))
          .when(col("kind") === "MATERIALIZED VIEW", lit("DIVERT_MVIEW"))
          .otherwise(lit("REVERSE")))
      .select("table_name", "kind", "temporary", "route")
  }

  val p6Sql: String = {
    val values = tableKinds.map { case (t, k, tmp) =>
      s"('$t', '$k', ${if (tmp) "TRUE" else "FALSE"})"
    }.mkString(",\n  ")
    s"""SELECT table_name, kind, temporary,
       |  CASE WHEN temporary THEN 'DIVERT_TEMPORARY'
       |       WHEN kind = 'PARTITIONED' THEN 'COMPAT_PARTITION'
       |       WHEN kind = 'CLUSTERED' THEN 'DIVERT_CLUSTERED'
       |       WHEN kind = 'MATERIALIZED VIEW' THEN 'DIVERT_MVIEW'
       |       ELSE 'REVERSE' END AS route
       |FROM (VALUES
       |  $values) t(table_name, kind, temporary)""".stripMargin
  }

  /** Compatibility report artifact for the diverted table kinds — the
    * reference's `compatibility_marvin.sql` role: each diverted family
    * renders one boxed comment naming the schema, the diverted table
    * list, and the manual-action suggestion
    * (`example/compatibility_marvin.sql:1-11` for the partition box;
    * suggestions per `module/reverse/oracle/public/filter.go:121-150` —
    * partition tables additionally need ADJUSTING because the target
    * converts them to normal tables, the other kinds are plain manual
    * creates). Rendered FROM the p6 route classification so a routing
    * bug breaks both the p6 hash row and this golden artifact; empty
    * families render nothing, exactly as the reference logs nothing
    * for an empty list.
    */
  def renderCompatReport(s: SparkSession, d: String,
      schema: String = "marvin"): String = {
    val route = p6CompatFilter(s, d).collect()
      .map(r => r.getAs[String]("table_name") -> r.getAs[String]("route"))
      .toMap
    // fixture order, not collect order: the artifact must be
    // byte-stable run over run
    def tablesOf(k: String) =
      tableKinds.map(_._1).filter(t => route(t) == k)
    val sections = Seq(
      ("oracle partition table maybe mysql has compatibility, " +
        "will convert to normal table, please manual adjust",
        "ORACLE PARTITION LIST", tablesOf("COMPAT_PARTITION"),
        "Manual Create And Adjust Table"),
      ("oracle temporary table maybe mysql has compatibility, skip",
        "ORACLE TEMPORARY LIST", tablesOf("DIVERT_TEMPORARY"),
        "Manual Create"),
      ("oracle clustered table maybe mysql has compatibility, skip",
        "ORACLE CLUSTERED LIST", tablesOf("DIVERT_CLUSTERED"),
        "Manual Create"),
      ("oracle materialized view maybe mysql has compatibility, skip",
        "ORACLE MVIEW LIST", tablesOf("DIVERT_MVIEW"),
        "Manual Create"))
    sections.filter(_._3.nonEmpty).map {
      case (note, header, tables, suggest) =>
        Seq("/*", s" $note", s" SCHEMA: $schema",
          s" $header: ${tables.mkString(", ")}",
          s" SUGGEST: $suggest", "*/").mkString("\n")
    }.mkString("\n\n")
  }

  /** MySQL type zoo for the M2O direction (every branch of
    * `mapping_oracle.go:90-330`).
    */
  val mysqlZoo: Seq[MySQLColumn] = Seq(
    MySQLColumn("t1", "TINYINT"), MySQLColumn("s1", "SMALLINT"),
    MySQLColumn("md1", "MEDIUMINT"), MySQLColumn("i1", "INT"),
    MySQLColumn("i2", "INTEGER"), MySQLColumn("b1", "BIGINT"),
    MySQLColumn("f1", "FLOAT"), MySQLColumn("r1", "REAL"),
    MySQLColumn("d1", "DOUBLE"), MySQLColumn("d2", "DOUBLE PRECISION"),
    MySQLColumn("dc1", "DECIMAL", precision = Some(12), scale = Some(2)),
    MySQLColumn("nm1", "NUMERIC", precision = Some(8), scale = Some(0)),
    MySQLColumn("y1", "YEAR"),
    MySQLColumn("tm1", "TIME"), MySQLColumn("dt1", "DATE"),
    MySQLColumn("dt2", "DATETIME"),
    MySQLColumn("ts1", "TIMESTAMP", datePrecision = 6),
    MySQLColumn("ts2", "TIMESTAMP", datePrecision = 3),
    MySQLColumn("c1", "CHAR", length = 20),
    MySQLColumn("v1", "VARCHAR", length = 100),
    MySQLColumn("tt1", "TINYTEXT", length = 255),
    MySQLColumn("tx1", "TEXT"), MySQLColumn("mt1", "MEDIUMTEXT"),
    MySQLColumn("lt1", "LONGTEXT"),
    MySQLColumn("bt1", "BIT", length = 8),
    MySQLColumn("bn1", "BINARY", length = 16),
    MySQLColumn("vb1", "VARBINARY", length = 64),
    MySQLColumn("tb1", "TINYBLOB"), MySQLColumn("bl1", "BLOB"),
    MySQLColumn("mb1", "MEDIUMBLOB"), MySQLColumn("lb1", "LONGBLOB"),
    MySQLColumn("se1", "SET", length = 20),
    MySQLColumn("en1", "ENUM", length = 10),
    // not-null / default branches for the M2O DDL assembly (r6)
    MySQLColumn("nn1", "VARCHAR", length = 30, nullable = false,
      dflt = Some("'pending'")),
    MySQLColumn("nn2", "INT", nullable = false),
    MySQLColumn("df1", "DATETIME", dflt = Some("CURRENT_TIMESTAMP")))

  /** r4: the M2O direction — MySQL zoo mapped to Oracle types by the
    * Scala rules vs an independent SQL CASE tree; SET/ENUM surface as
    * UNSUPPORTED rather than silently mapping.
    */
  def r4M2oMapping(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mysqlZoo.map { c =>
      (c.name, c.upperType, M2OTypeMapper.oracleType(c))
    }.toDF("col_name", "mysql_type", "oracle_type")
  }

  /** Independent DuckDB implementation of the M2O mapping (expects
    * columns mysql_type, len, p, s, dp in scope) — shared by r4 and
    * the r6 DDL assembly.
    */
  private[graft] val m2oCaseSql: String =
    """CASE mysql_type
       |    WHEN 'TINYINT' THEN 'NUMBER(3,0)'
       |    WHEN 'SMALLINT' THEN 'NUMBER(5,0)'
       |    WHEN 'MEDIUMINT' THEN 'NUMBER(7,0)'
       |    WHEN 'INT' THEN 'NUMBER(10,0)'
       |    WHEN 'INTEGER' THEN 'NUMBER(10,0)'
       |    WHEN 'BIGINT' THEN 'NUMBER(19,0)'
       |    WHEN 'FLOAT' THEN 'BINARY_FLOAT'
       |    WHEN 'REAL' THEN 'BINARY_FLOAT'
       |    WHEN 'DOUBLE' THEN 'BINARY_DOUBLE'
       |    WHEN 'DOUBLE PRECISION' THEN 'BINARY_DOUBLE'
       |    WHEN 'DECIMAL' THEN 'NUMBER(' || CAST(coalesce(p, 10) AS VARCHAR) || ',' || CAST(coalesce(s, 0) AS VARCHAR) || ')'
       |    WHEN 'NUMERIC' THEN 'NUMBER(' || CAST(coalesce(p, 10) AS VARCHAR) || ',' || CAST(coalesce(s, 0) AS VARCHAR) || ')'
       |    WHEN 'YEAR' THEN 'NUMBER'
       |    WHEN 'TIME' THEN 'DATE'
       |    WHEN 'DATE' THEN 'DATE'
       |    WHEN 'DATETIME' THEN 'DATE'
       |    WHEN 'TIMESTAMP' THEN 'TIMESTAMP(' || CAST(dp AS VARCHAR) || ')'
       |    WHEN 'CHAR' THEN 'CHAR(' || CAST(len AS VARCHAR) || ' CHAR)'
       |    WHEN 'VARCHAR' THEN 'VARCHAR2(' || CAST(len AS VARCHAR) || ' CHAR)'
       |    WHEN 'TINYTEXT' THEN 'VARCHAR2(' || CAST(len AS VARCHAR) || ' CHAR)'
       |    WHEN 'TEXT' THEN 'CLOB'
       |    WHEN 'MEDIUMTEXT' THEN 'CLOB'
       |    WHEN 'LONGTEXT' THEN 'CLOB'
       |    WHEN 'BIT' THEN 'RAW(' || CAST(len AS VARCHAR) || ')'
       |    WHEN 'BINARY' THEN 'RAW(' || CAST(len AS VARCHAR) || ')'
       |    WHEN 'VARBINARY' THEN 'RAW(' || CAST(len AS VARCHAR) || ')'
       |    WHEN 'TINYBLOB' THEN 'BLOB'
       |    WHEN 'BLOB' THEN 'BLOB'
       |    WHEN 'MEDIUMBLOB' THEN 'BLOB'
       |    WHEN 'LONGBLOB' THEN 'BLOB'
       |    WHEN 'SET' THEN 'UNSUPPORTED'
       |    WHEN 'ENUM' THEN 'UNSUPPORTED'
       |    ELSE 'CLOB'
       |  END""".stripMargin

  /** The mysqlZoo as a VALUES relation with full attributes. */
  private[graft] val mysqlZooCte: String = {
    val values = mysqlZoo.zipWithIndex.map { case (c, i) =>
      s"(${vStr(c.name)}, ${i + 1}, ${vStr(c.upperType)}, ${c.length}, " +
        s"${vInt(c.precision)}, ${vInt(c.scale)}, ${c.datePrecision}, " +
        s"${if (c.nullable) "TRUE" else "FALSE"}, ${vStrO(c.dflt)})"
    }.mkString(",\n  ")
    s"""mzoo(col_name, ordinal, mysql_type, len, p, s, dp, nullable,
       |     dflt) AS (VALUES
       |  $values)""".stripMargin
  }

  val r4Sql: String =
    s"""WITH $mysqlZooCte
       |SELECT col_name, mysql_type,
       |  $m2oCaseSql AS oracle_type
       |FROM mzoo""".stripMargin

  /** r6: full M2O DDL synthesis — the mysqlZoo assembled into Oracle
    * CREATE TABLE text per the reference's m2o writer
    * (`module/reverse/mysql/m2o/rule.go:390-550` column meta order
    * `name type [DEFAULT v] [NOT NULL]`, create shape
    * `m2o/ddl.go:172-192` — unquoted identifiers, unlike the MySQL
    * direction). MySQL CURRENT_TIMESTAMP rewrites to SYSDATE;
    * SET/ENUM columns divert to a compatibility artifact instead of
    * failing the table.
    */
  def r6M2oDdl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cols = mysqlZoo.zipWithIndex.map { case (c, i) =>
      (c.name, i + 1, c.upperType, M2OTypeMapper.oracleType(c),
        c.nullable, c.dflt.orNull)
    }.toDF("col_name", "ordinal", "mysql_type", "oracle_type",
      "nullable", "dflt")
      .withColumn("odflt",
        when(upper(col("dflt")) === "CURRENT_TIMESTAMP", lit("SYSDATE"))
          .otherwise(col("dflt")))
    val lines = cols
      .filter(col("oracle_type") =!= M2OTypeMapper.Unsupported)
      .withColumn("line", concat(
        col("col_name"), lit(" "), col("oracle_type"),
        when(col("odflt").isNotNull,
          concat(lit(" DEFAULT "), col("odflt"))).otherwise(lit("")),
        when(!col("nullable"), lit(" NOT NULL")).otherwise(lit(""))))
    val create = lines
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ordinal"), col("line")))),
        x => x.getField("line")), ",\n").as("cols"))
      .select(lit("create_table").as("artifact"),
        concat(lit("CREATE TABLE steven.marvin_mysql (\n"), col("cols"),
          lit(",\nPRIMARY KEY (b1)\n);")).as("text"))
    // emit the compat artifact only when something is unsupported —
    // an unconditional agg would emit '-- unsupported columns: ' on
    // an empty set while the oracle's string_agg yields NULL
    val compat = cols
      .filter(col("oracle_type") === M2OTypeMapper.Unsupported)
      .agg(count(lit(1)).as("n"),
        concat(lit("-- unsupported columns: "),
          array_join(array_sort(collect_list(
            concat(col("col_name"), lit(" "), col("mysql_type")))), ", "))
          .as("text"))
      .filter(col("n") > 0)
      .select(lit("compatibility").as("artifact"), col("text"))
    create.unionAll(compat)
  }

  val r6Sql: String =
    s"""WITH $mysqlZooCte,
       |mapped AS (
       |  SELECT mzoo.*, $m2oCaseSql AS oracle_type,
       |    CASE WHEN upper(dflt) = 'CURRENT_TIMESTAMP' THEN 'SYSDATE'
       |         ELSE dflt END AS odflt
       |  FROM mzoo),
       |lines AS (
       |  SELECT ordinal,
       |    col_name || ' ' || oracle_type ||
       |    CASE WHEN odflt IS NOT NULL THEN ' DEFAULT ' || odflt ELSE '' END ||
       |    CASE WHEN NOT nullable THEN ' NOT NULL' ELSE '' END AS line
       |  FROM mapped WHERE oracle_type <> 'UNSUPPORTED')
       |SELECT 'create_table' AS artifact,
       |  'CREATE TABLE steven.marvin_mysql (' || chr(10) ||
       |  string_agg(line, ',' || chr(10) ORDER BY ordinal) ||
       |  ',' || chr(10) || 'PRIMARY KEY (b1)' || chr(10) || ');' AS text
       |FROM lines
       |UNION ALL
       |SELECT 'compatibility' AS artifact,
       |  '-- unsupported columns: ' ||
       |  string_agg(col_name || ' ' || mysql_type, ', ' ORDER BY col_name)
       |    AS text
       |FROM mapped WHERE oracle_type = 'UNSUPPORTED'
       |HAVING count(*) > 0""".stripMargin

  /** r7: the structure-level charset/collation matrix as a query —
    * every (direction, source charset, NLS behavior) cell of
    * `common/reverse.go:102-200+` mapped by [[CharsetMaps]] on the
    * Spark side and by an independent CASE tree in the oracle. DDL
    * writers read their suffix from this map (see r3), so a matrix
    * bug breaks both this hash and the DDL goldens.
    */
  val charsetGrid: Seq[(String, String, String)] = for {
    task <- Seq("O2M", "O2T")
    cs <- Seq("UTF8", "AL32UTF8", "ZHT16BIG5", "ZHS16GBK", "ZHS32GB18030")
    nls <- Seq("BINARY_CI", "BINARY_AI", "BINARY_CS", "BINARY")
  } yield (task, cs, nls)

  def r7CollationMap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    charsetGrid.map { case (task, cs, nls) =>
      val (tcs, coll) = CharsetMaps.tableCharsetCollation(task, cs, nls)
      (task, cs, nls, tcs, coll)
    }.toDF("task_type", "source_charset", "nls_sort", "target_charset",
      "target_collation")
  }

  val r7Sql: String = {
    val values = charsetGrid.map { case (t, c, n) =>
      s"(${vStr(t)}, ${vStr(c)}, ${vStr(n)})"
    }.mkString(",\n  ")
    s"""WITH grid(task_type, source_charset, nls_sort) AS (VALUES
       |  $values),
       |m AS (
       |  SELECT *,
       |    CASE WHEN task_type = 'O2T' THEN 'UTF8MB4'
       |         WHEN source_charset IN ('UTF8', 'AL32UTF8') THEN 'UTF8MB4'
       |         WHEN source_charset = 'ZHT16BIG5' THEN 'BIG5'
       |         WHEN source_charset = 'ZHS16GBK' THEN 'GBK'
       |         ELSE 'GB18030' END AS target_charset
       |  FROM grid)
       |SELECT task_type, source_charset, nls_sort, target_charset,
       |  CASE
       |    WHEN nls_sort = 'BINARY_CI' AND target_charset = 'UTF8MB4'
       |      THEN 'UTF8MB4_0900_AS_CI'
       |    WHEN nls_sort = 'BINARY_AI' AND target_charset = 'UTF8MB4'
       |      THEN 'UTF8MB4_GENERAL_CI'
       |    WHEN nls_sort IN ('BINARY_CI', 'BINARY_AI')
       |      THEN target_charset || '_CHINESE_CI'
       |    ELSE target_charset || '_BIN'
       |  END AS target_collation
       |FROM m""".stripMargin
  }

  /** r8: the reverse direction's collation matrix — MySQL/TiDB
    * column collation → Oracle NLS behavior ([[CharsetMaps.m2oNls]]).
    * The oracle classifies by collation-name PATTERN (suffix rules),
    * the Scala side by the explicit map — two formulations of
    * `common/reverse.go:213-360`.
    */
  def r8M2oCollation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    CharsetMaps.m2oNls.toSeq.sortBy(_._1)
      .toDF("mysql_collation", "oracle_nls")
  }

  val r8Sql: String = {
    val values = CharsetMaps.m2oNls.keys.toSeq.sorted
      .map(c => s"(${vStr(c)})").mkString(",\n  ")
    s"""SELECT mysql_collation,
       |  CASE WHEN mysql_collation = 'UTF8MB4_0900_AS_CI' THEN 'BINARY_CI'
       |       WHEN mysql_collation LIKE '%\\_GENERAL\\_CI' ESCAPE '\\'
       |         THEN 'BINARY_AI'
       |       WHEN mysql_collation LIKE '%\\_CHINESE\\_CI' ESCAPE '\\'
       |         THEN 'BINARY_AI/BINARY_CI'
       |       WHEN mysql_collation LIKE '%\\_BIN' ESCAPE '\\'
       |         THEN 'BINARY/BINARY_CS'
       |  END AS oracle_nls
       |FROM (VALUES
       |  $values) t(mysql_collation)""".stripMargin
  }

  /** r9: the T2O (TiDB→Oracle) structure maps — the reference keeps a
    * separate TaskTypeTiDB2Oracle matrix (`common/reverse.go:125-129`
    * charsets, `:291-344` collations) that is the M2O matrix
    * restricted to TiDB's charset surface (no BIG5/GB18030). One DF
    * carries both artifacts tagged by kind; the oracle re-derives the
    * targets from rules (charset by name, collation by suffix
    * pattern) rather than echoing the map.
    */
  def r9T2oGrid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cs = CharsetMaps.t2oCharset.toSeq
      .map { case (k, v) => ("charset", k, v) }
    val co = CharsetMaps.t2oNls.toSeq
      .map { case (k, v) => ("collation", k, v) }
    (cs ++ co).toDF("kind", "source", "target")
  }

  val r9Sql: String = {
    val csVals = CharsetMaps.t2oCharset.keys.toSeq.sorted
      .map(c => s"(${vStr(c)})").mkString(", ")
    val coVals = CharsetMaps.t2oNls.keys.toSeq.sorted
      .map(c => s"(${vStr(c)})").mkString(", ")
    s"""SELECT 'charset' AS kind, source,
       |  CASE WHEN source = 'GBK' THEN 'ZHS16GBK'
       |       ELSE 'AL32UTF8' END AS target
       |FROM (VALUES $csVals) c(source)
       |UNION ALL
       |SELECT 'collation' AS kind, source,
       |  CASE WHEN source = 'UTF8MB4_0900_AS_CI' THEN 'BINARY_CI'
       |       WHEN source LIKE '%\\_GENERAL\\_CI' ESCAPE '\\'
       |         THEN 'BINARY_AI'
       |       WHEN source LIKE '%\\_CHINESE\\_CI' ESCAPE '\\'
       |         THEN 'BINARY_AI/BINARY_CI'
       |       WHEN source LIKE '%\\_BIN' ESCAPE '\\'
       |         THEN 'BINARY/BINARY_CS'
       |  END AS target
       |FROM (VALUES $coVals) t(source)""".stripMargin
  }

  /** a17: migration-route summary (assess compatibility overview —
    * the reference's per-bucket object counts,
    * `module/assess/oracle/o2m/assess_result.go` compatible-object
    * families).
    */
  def a17RouteCounts(s: SparkSession, d: String): DataFrame =
    p6CompatFilter(s, d).groupBy("route")
      .agg(count(lit(1)).as("n_tables"))

  val a17Sql: String =
    s"""SELECT route, count(*) AS n_tables FROM ($p6Sql) p GROUP BY 1""".stripMargin

  // ------------------------------------------------------------- registry

  val registry: Seq[Query] = Seq(
    Query("r1_type_mapping", r1TypeMapping, r1Sql),
    Query("r2_number_buckets", r2NumberBuckets, r2Sql),
    Query("r3_ddl_synthesis", r3DdlSynthesis, r3Sql),
    Query("r4_m2o_mapping", r4M2oMapping, r4Sql),
    Query("r5_o2t_ddl", r5O2tDdl, r5Sql),
    Query("r6_m2o_ddl", r6M2oDdl, r6Sql),
    Query("r7_collation_map", r7CollationMap, r7Sql),
    Query("r8_m2o_collation", r8M2oCollation, r8Sql),
    Query("r9_t2o_grid", r9T2oGrid, r9Sql),
    Query("p6_compat_filter", p6CompatFilter, p6Sql),
    Query("a17_route_counts", a17RouteCounts, a17Sql))
}
