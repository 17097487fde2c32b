package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.reverse.Reverse

/** Assess report families over an Oracle-dictionary-shaped snapshot —
  * the reference's remaining catalog aggregations
  * (`database/oracle/assess.go:483-667`, consumed by the
  * `AssessOracle*` report builders in
  * `module/assess/oracle/o2m/assess_result.go:30-1402`), recast as
  * DataFrame group-bys over dictionary Datasets.
  *
  * The dictionary fixtures model `dba_tables` / `dba_part_tables` /
  * `dba_constraints` / `dba_views` / `dba_indexes` / `dba_lobs` rows
  * for a two-schema zoo exercising every decode branch. At fleet
  * scale these dictionaries are 10⁵-10⁷ rows (every table × column ×
  * index of an estate), so the reports stay distributed group-bys —
  * partial-aggregable, one pass each — rather than driver loops.
  * Each oracle is an independent DuckDB formulation over the same
  * VALUES input.
  */
object Assess {

  // ------------------------------------------------------------ fixtures

  /** dba_tables attributes feeding the table-type decode
    * (`assess.go:483-523`).
    */
  final case class DictTable(owner: String, table_name: String,
      num_rows: Long, avg_row_len: Long, cluster_name: Option[String],
      iot_type: Option[String], partitioned: Boolean, temporary: Boolean,
      duration: Option[String])

  val dictTables: Seq[DictTable] = Seq(
    DictTable("GRAFT", "ORDERS_H", 120000000L, 96L, None, None,
      partitioned = false, temporary = false, None),
    DictTable("GRAFT", "LINEITEM_P", 600000000L, 120L, None, None,
      partitioned = true, temporary = false, None),
    DictTable("GRAFT", "EVENTS_P", 250000000L, 80L, None, None,
      partitioned = true, temporary = false, None),
    DictTable("GRAFT", "STAGE_GTT", 0L, 0L, None, None,
      partitioned = false, temporary = true, Some("SYS$SESSION")),
    DictTable("GRAFT", "SCRATCH_GTT", 0L, 0L, None, None,
      partitioned = false, temporary = true, Some("SYS$TRANSACTION")),
    DictTable("GRAFT", "LOOKUP_IOT", 50000L, 40L, None, Some("IOT"),
      partitioned = false, temporary = false, None),
    DictTable("GRAFT", "CODES_CLU", 1000L, 30L, Some("C_CODES"), None,
      partitioned = false, temporary = false, None),
    DictTable("MARVIN", "MARVIN2", 3000000L, 210L, None, None,
      partitioned = false, temporary = false, None),
    DictTable("MARVIN", "MARVIN1LITE", 800000L, 64L, None, None,
      partitioned = false, temporary = false, None))

  /** dba_part_tables rows (`assess.go:570-613`). */
  final case class DictPartTable(owner: String, table_name: String,
      partitioning_type: String, subpartitioning_type: String,
      partition_count: Int)

  val dictPartTables: Seq[DictPartTable] = Seq(
    DictPartTable("GRAFT", "LINEITEM_P", "RANGE", "NONE", 84),
    DictPartTable("GRAFT", "EVENTS_P", "HASH", "NONE", 64),
    DictPartTable("GRAFT", "AUDIT_RL", "RANGE", "LIST", 24),
    DictPartTable("GRAFT", "METRIC_RH", "RANGE", "HASH", 36),
    DictPartTable("MARVIN", "LIST_PARTITION_TABLE", "LIST", "NONE", 5),
    DictPartTable("MARVIN", "HASH_RANG", "HASH", "RANGE", 16))

  /** dba_constraints rows (`assess.go:615-633`). */
  final case class DictConstraint(owner: String, table_name: String,
      constraint_type: String)

  val dictConstraints: Seq[DictConstraint] = Seq(
    DictConstraint("GRAFT", "ORDERS_H", "P"),
    DictConstraint("GRAFT", "LINEITEM_P", "P"),
    DictConstraint("GRAFT", "LINEITEM_P", "R"),
    DictConstraint("GRAFT", "LINEITEM_P", "C"),
    DictConstraint("GRAFT", "EVENTS_P", "C"),
    DictConstraint("GRAFT", "LOOKUP_IOT", "P"),
    DictConstraint("MARVIN", "MARVIN2", "C"),
    DictConstraint("MARVIN", "MARVIN1LITE", "P"),
    DictConstraint("MARVIN", "MARVIN1LITE", "C"),
    DictConstraint("MARVIN", "MARVIN1LITE", "U"))

  /** dba_views rows (`assess.go:550-558`). */
  final case class DictView(owner: String, view_name: String,
      view_type: Option[String], view_type_owner: Option[String])

  val dictViews: Seq[DictView] = Seq(
    DictView("GRAFT", "V_ORDERS_OPEN", None, None),
    DictView("GRAFT", "V_REVENUE", None, None),
    DictView("GRAFT", "V_TYPED_DOC", Some("XMLTYPE"), Some("SYS")),
    DictView("MARVIN", "V_MARVIN", None, None))

  /** dba_indexes ⋈ dba_ind_columns rows + LOB-index names
    * (`assess.go:634-650`): LOB indexes are auto-created per LOB
    * column and excluded from the report.
    */
  final case class DictIndex(owner: String, table_name: String,
      index_name: String, index_type: String)

  val dictIndexes: Seq[DictIndex] = Seq(
    DictIndex("GRAFT", "ORDERS_H", "PK_ORDERS", "NORMAL"),
    DictIndex("GRAFT", "ORDERS_H", "IX_ORDERS_DATE", "NORMAL"),
    DictIndex("GRAFT", "LINEITEM_P", "PK_LINEITEM", "NORMAL"),
    DictIndex("GRAFT", "LINEITEM_P", "IX_LI_FLAG_BM", "BITMAP"),
    DictIndex("GRAFT", "EVENTS_P", "IX_EVT_FN", "FUNCTION-BASED NORMAL"),
    DictIndex("GRAFT", "DOCS", "SYS_IL0001$$", "LOB"),
    DictIndex("MARVIN", "MARVIN2", "PK_MARVIN2", "NORMAL"),
    DictIndex("MARVIN", "MARVIN2", "IX_M2_DOMAIN", "DOMAIN"))

  val dictLobIndexNames: Seq[String] = Seq("SYS_IL0001$$")

  // -------------------------------------------------- VALUES rendering

  private def vStr(x: String) = "'" + x.replace("'", "''") + "'"
  private def vStrO(o: Option[String]) = o.map(vStr).getOrElse("NULL")
  private def vBool(b: Boolean) = if (b) "TRUE" else "FALSE"

  private val tablesCte: String = {
    val rows = dictTables.map { t =>
      s"(${vStr(t.owner)}, ${vStr(t.table_name)}, ${t.num_rows}, " +
        s"${t.avg_row_len}, ${vStrO(t.cluster_name)}, " +
        s"${vStrO(t.iot_type)}, ${vBool(t.partitioned)}, " +
        s"${vBool(t.temporary)}, ${vStrO(t.duration)})"
    }.mkString(",\n  ")
    s"""tabs(owner, table_name, num_rows, avg_row_len, cluster_name,
       |     iot_type, partitioned, temporary, duration) AS (VALUES
       |  $rows)""".stripMargin
  }

  private val partTablesCte: String = {
    val rows = dictPartTables.map { p =>
      s"(${vStr(p.owner)}, ${vStr(p.table_name)}, " +
        s"${vStr(p.partitioning_type)}, ${vStr(p.subpartitioning_type)}, " +
        s"${p.partition_count})"
    }.mkString(",\n  ")
    s"""pt(owner, table_name, partitioning_type, subpartitioning_type,
       |   partition_count) AS (VALUES
       |  $rows)""".stripMargin
  }

  private val constraintsCte: String = {
    val rows = dictConstraints.map { c =>
      s"(${vStr(c.owner)}, ${vStr(c.table_name)}, ${vStr(c.constraint_type)})"
    }.mkString(",\n  ")
    s"cons(owner, table_name, constraint_type) AS (VALUES\n  $rows)"
  }

  private val viewsCte: String = {
    val rows = dictViews.map { v =>
      s"(${vStr(v.owner)}, ${vStr(v.view_name)}, ${vStrO(v.view_type)}, " +
        s"${vStrO(v.view_type_owner)})"
    }.mkString(",\n  ")
    s"vws(owner, view_name, view_type, view_type_owner) AS (VALUES\n  $rows)"
  }

  private val indexesCte: String = {
    val rows = dictIndexes.map { i =>
      s"(${vStr(i.owner)}, ${vStr(i.table_name)}, ${vStr(i.index_name)}, " +
        s"${vStr(i.index_type)})"
    }.mkString(",\n  ")
    // one parenthesized tuple PER name — a single tuple of N names
    // would bind as one N-column row
    val lobs = dictLobIndexNames.map(n => s"(${vStr(n)})").mkString(", ")
    s"""idx(owner, table_name, index_name, index_type) AS (VALUES
       |  $rows),
       |lobs(index_name) AS (VALUES $lobs)""".stripMargin
  }

  // ------------------------------------------------------------- queries

  private def toDfSeq[T <: Product : scala.reflect.runtime.universe.TypeTag](
      s: SparkSession, xs: Seq[T]): DataFrame = s.createDataFrame(xs)

  /** a20: table-type counts + exact byte totals — the reference's
    * CLUSTERED / IOT / PARTITIONED / SESSION-vs-TRANSACTION TEMPORARY
    * / HEAP decode tree with size rollup (`assess.go:483-523`). Bytes
    * stay exact BIGINT (num_rows × avg_row_len): the reference's
    * GB-rounding is presentation, and exact integers are the
    * cross-engine-stable form.
    */
  def a20TableTypeCounts(s: SparkSession, d: String): DataFrame =
    toDfSeq(s, dictTables)
      .withColumn("table_type",
        when(col("cluster_name").isNotNull, lit("CLUSTERED"))
          .when(col("iot_type") === "IOT", lit("IOT"))
          .when(col("partitioned"), lit("PARTITIONED"))
          .when(col("temporary") && col("duration") === "SYS$SESSION",
            lit("SESSION TEMPORARY"))
          .when(col("temporary") && col("duration") === "SYS$TRANSACTION",
            lit("TRANSACTION TEMPORARY"))
          .otherwise(lit("HEAP")))
      .groupBy("owner", "table_type")
      .agg(sum(col("num_rows") * col("avg_row_len")).as("total_bytes"),
        count(lit(1)).as("n_tables"))

  val a20Sql: String =
    s"""WITH $tablesCte
       |SELECT owner,
       |  CASE WHEN cluster_name IS NOT NULL THEN 'CLUSTERED'
       |       WHEN iot_type = 'IOT' THEN 'IOT'
       |       WHEN partitioned THEN 'PARTITIONED'
       |       WHEN temporary AND duration = 'SYS$$SESSION' THEN 'SESSION TEMPORARY'
       |       WHEN temporary AND duration = 'SYS$$TRANSACTION' THEN 'TRANSACTION TEMPORARY'
       |       ELSE 'HEAP' END AS table_type,
       |  CAST(sum(CAST(num_rows AS BIGINT) * avg_row_len) AS BIGINT) AS total_bytes,
       |  count(*) AS n_tables
       |FROM tabs GROUP BY 1, 2""".stripMargin

  /** a21: partition-type counts, plain partitions only
    * (SUBPARTITIONING_TYPE = 'NONE'; `assess.go:570-583`), with the
    * partition-count rollup the threshold report reads.
    */
  def a21PartitionTypes(s: SparkSession, d: String): DataFrame =
    toDfSeq(s, dictPartTables)
      .filter(col("subpartitioning_type") === "NONE")
      .groupBy("owner", "partitioning_type")
      .agg(count(lit(1)).as("n_tables"),
        sum("partition_count").as("n_partitions"))

  val a21Sql: String =
    s"""WITH $partTablesCte
       |SELECT owner, partitioning_type, count(*) AS n_tables,
       |  CAST(sum(partition_count) AS BIGINT) AS n_partitions
       |FROM pt WHERE subpartitioning_type = 'NONE' GROUP BY 1, 2""".stripMargin

  /** a22: composite subpartition-type counts
    * (PARTITIONING-SUBPARTITIONING pairs, SUBPARTITIONING_TYPE <>
    * 'NONE'; `assess.go:585-613`).
    */
  def a22SubpartitionTypes(s: SparkSession, d: String): DataFrame =
    toDfSeq(s, dictPartTables)
      .filter(col("subpartitioning_type") =!= "NONE")
      .withColumn("subpartitioning_type",
        concat_ws("-", col("partitioning_type"), col("subpartitioning_type")))
      .groupBy("owner", "subpartitioning_type")
      .agg(count(lit(1)).as("n_tables"))

  val a22Sql: String =
    s"""WITH $partTablesCte
       |SELECT owner,
       |  partitioning_type || '-' || subpartitioning_type AS subpartitioning_type,
       |  count(*) AS n_tables
       |FROM pt WHERE subpartitioning_type <> 'NONE' GROUP BY 1, 2""".stripMargin

  /** a23: temporary-table duration counts (TEMPORARY='Y' AND DURATION
    * IS NOT NULL; `assess.go:615-621`).
    */
  def a23TempTableTypes(s: SparkSession, d: String): DataFrame =
    toDfSeq(s, dictTables)
      .filter(col("temporary") && col("duration").isNotNull)
      .groupBy(col("owner"), col("duration").as("temp_type"))
      .agg(count(lit(1)).as("n_tables"))

  val a23Sql: String =
    s"""WITH $tablesCte
       |SELECT owner, duration AS temp_type, count(*) AS n_tables
       |FROM tabs WHERE temporary AND duration IS NOT NULL
       |GROUP BY 1, 2""".stripMargin

  /** a24: constraint-type counts (`assess.go:627-633`). */
  def a24ConstraintTypes(s: SparkSession, d: String): DataFrame =
    toDfSeq(s, dictConstraints)
      .groupBy("owner", "constraint_type")
      .agg(count(lit(1)).as("n_constraints"))

  val a24Sql: String =
    s"""WITH $constraintsCte
       |SELECT owner, constraint_type, count(*) AS n_constraints
       |FROM cons GROUP BY 1, 2""".stripMargin

  /** a25: default-value families over the reverse type zoo — the
    * DATA_DEFAULT frequency report (`assess.go:525-548`); NULL (no
    * default) is its own group, as in the reference's XMLTABLE
    * extraction.
    */
  def a25DefaultValueCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Reverse.zoo.toDF()
      .groupBy(col("dflt").as("data_default"))
      .agg(count(lit(1)).as("n_columns"))
  }

  val a25Sql: String =
    s"""WITH ${Reverse.zooCte}
       |SELECT dflt AS data_default, count(*) AS n_columns
       |FROM zoo GROUP BY 1""".stripMargin

  /** a26: view-type counts (NVL(VIEW_TYPE,'VIEW');
    * `assess.go:550-558`).
    */
  def a26ViewTypes(s: SparkSession, d: String): DataFrame =
    toDfSeq(s, dictViews)
      .groupBy(col("owner"),
        coalesce(col("view_type"), lit("VIEW")).as("view_type"))
      .agg(count(lit(1)).as("n_views"))

  val a26Sql: String =
    s"""WITH $viewsCte
       |SELECT owner, coalesce(view_type, 'VIEW') AS view_type,
       |  count(*) AS n_views
       |FROM vws GROUP BY 1, 2""".stripMargin

  /** a27: index-type counts excluding LOB indexes (both by type and
    * by the dba_lobs name list, as the reference does twice over;
    * `assess.go:634-650`).
    */
  def a27IndexTypes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lobs = dictLobIndexNames.toDF("index_name")
    toDfSeq(s, dictIndexes)
      .filter(col("index_type") =!= "LOB")
      .join(lobs, Seq("index_name"), "left_anti")
      .groupBy("owner", "index_type")
      .agg(count(lit(1)).as("n_indexes"))
  }

  val a27Sql: String =
    s"""WITH $indexesCte
       |SELECT owner, index_type, count(*) AS n_indexes
       |FROM idx
       |WHERE index_type <> 'LOB'
       |  AND index_name NOT IN (SELECT index_name FROM lobs)
       |GROUP BY 1, 2""".stripMargin

  /** a28: column-type counts with the type-directed MAX-width decode
    * (`assess.go:652-667`): NUMBER/INTERVAL-YEAR report max precision
    * (default 38), INTERVAL-DAY/TIMESTAMP max scale (default 127),
    * everything else max declared byte length.
    */
  def a28ColumnTypeWidths(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val maxW =
      when(col("data_type") === "NUMBER" ||
          col("data_type").startsWith("INTERVAL YEAR"),
        max(coalesce(col("p"), lit(38))))
        .when(col("data_type").startsWith("INTERVAL DAY") ||
          col("data_type").startsWith("TIMESTAMP"),
          max(coalesce(col("s"), lit(127))))
        .otherwise(max(col("len")))
    Reverse.zoo.toDF()
      .groupBy("data_type")
      .agg(count(lit(1)).as("n_columns"), maxW.cast("int").as("max_width"))
  }

  val a28Sql: String =
    s"""WITH ${Reverse.zooCte}
       |SELECT data_type, count(*) AS n_columns,
       |  CAST(CASE
       |    WHEN data_type = 'NUMBER' OR data_type LIKE 'INTERVAL YEAR%'
       |      THEN max(coalesce(p, 38))
       |    WHEN data_type LIKE 'INTERVAL DAY%' OR data_type LIKE 'TIMESTAMP%'
       |      THEN max(coalesce(s, 127))
       |    ELSE max(len) END AS INT) AS max_width
       |FROM zoo GROUP BY 1""".stripMargin

  /** a29: compat threshold matrix — the reference's flat threshold
    * scans (`assess.go:362-481`: partition count over limit, index
    * count per table, identifier length, bare-precision NUMBER
    * columns) melted into one (check, object, measure) report.
    * Thresholds are fixture-scaled (32 partitions / 1 index / 10
    * chars vs the reference's 1024 / 64 / 64) so every check fires on
    * test data; the shapes are identical.
    */
  def a29ThresholdMatrix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val parts = toDfSeq(s, dictPartTables)
      .filter(col("partition_count") > 32)
      .select(lit("PARTITION_COUNT_OVER").as("check_name"),
        concat_ws(".", col("owner"), col("table_name")).as("object_name"),
        col("partition_count").cast("long").as("measure"))
    val idxCounts = toDfSeq(s, dictIndexes)
      .groupBy("owner", "table_name").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(lit("INDEX_COUNT_OVER").as("check_name"),
        concat_ws(".", col("owner"), col("table_name")).as("object_name"),
        col("n").as("measure"))
    val longNames = toDfSeq(s, dictTables).select(col("table_name").as("nm"))
      .unionAll(toDfSeq(s, dictViews).select(col("view_name").as("nm")))
      .unionAll(toDfSeq(s, dictIndexes).select(col("index_name").as("nm")))
      .filter(length(col("nm")) > 10)
      .select(lit("IDENTIFIER_LENGTH_OVER").as("check_name"),
        col("nm").as("object_name"),
        length(col("nm")).cast("long").as("measure"))
    val bareNumber = Reverse.zoo.toDF()
      .filter(col("data_type") === "NUMBER" && col("p").isNull)
      .select(lit("NUMBER_BARE_PRECISION").as("check_name"),
        concat_ws(".", col("table_name"), col("col_name")).as("object_name"),
        lit(0L).as("measure"))
    parts.unionAll(idxCounts).unionAll(longNames).unionAll(bareNumber)
  }

  val a29Sql: String =
    s"""WITH $partTablesCte,
       |$indexesCte,
       |$tablesCte,
       |$viewsCte,
       |${Reverse.zooCte}
       |SELECT 'PARTITION_COUNT_OVER' AS check_name,
       |  owner || '.' || table_name AS object_name,
       |  CAST(partition_count AS BIGINT) AS measure
       |FROM pt WHERE partition_count > 32
       |UNION ALL
       |SELECT 'INDEX_COUNT_OVER', object_name, n FROM (
       |  SELECT owner || '.' || table_name AS object_name,
       |    count(*) AS n
       |  FROM idx GROUP BY 1) i WHERE n > 1
       |UNION ALL
       |SELECT 'IDENTIFIER_LENGTH_OVER', nm, CAST(length(nm) AS BIGINT)
       |FROM (SELECT table_name AS nm FROM tabs
       |      UNION ALL SELECT view_name FROM vws
       |      UNION ALL SELECT index_name FROM idx) names
       |WHERE length(nm) > 10
       |UNION ALL
       |SELECT 'NUMBER_BARE_PRECISION',
       |  table_name || '.' || col_name, CAST(0 AS BIGINT)
       |FROM zoo WHERE data_type = 'NUMBER' AND p IS NULL""".stripMargin

  /** dba_source-shaped rows for the code-object report
    * (`assess.go:306-314`): one row per source LINE; the report is the
    * per-object max.
    */
  final case class DictSource(owner: String, name: String,
      obj_type: String, line: Int)

  val dictSource: Seq[DictSource] =
    Seq(
      ("GRAFT", "PKG_LOAD", "PACKAGE BODY", 840),
      ("GRAFT", "PKG_LOAD", "PACKAGE", 60),
      ("GRAFT", "FN_PRICE", "FUNCTION", 45),
      ("GRAFT", "TRG_AUDIT", "TRIGGER", 30),
      ("MARVIN", "PRC_SYNC", "PROCEDURE", 220)
    ).flatMap { case (o, n, t, maxLine) =>
      // three sampled line numbers per object — enough that max() is
      // a real aggregation, not an echo of the fixture
      Seq(1, maxLine / 2, maxLine).map(l => DictSource(o, n, t, l))
    }

  /** dba_synonyms rows (`assess.go:344-351`). */
  final case class DictSynonym(owner: String, synonym_name: String,
      table_owner: String, table_name: String)

  val dictSynonyms: Seq[DictSynonym] = Seq(
    DictSynonym("PUBLIC", "ORDERS", "GRAFT", "ORDERS_H"),
    DictSynonym("GRAFT", "LI", "GRAFT", "LINEITEM_P"),
    DictSynonym("MARVIN", "ORD", "GRAFT", "ORDERS_H"),
    DictSynonym("PUBLIC", "M2", "MARVIN", "MARVIN2"))

  /** dba_mviews rows (`assess.go:353-360`). */
  final case class DictMview(owner: String, mview_name: String,
      rewrite_capability: String, refresh_mode: String,
      refresh_method: String, fast_refreshable: String)

  val dictMviews: Seq[DictMview] = Seq(
    DictMview("GRAFT", "MV_REV_DAY", "GENERAL", "DEMAND", "COMPLETE", "NO"),
    DictMview("GRAFT", "MV_ORD_FAST", "GENERAL", "COMMIT", "FAST", "DIRLOAD_DML"),
    DictMview("MARVIN", "MV_M2", "TEXTMATCH", "DEMAND", "FORCE", "NO"))

  private val sourceCte: String = {
    val rows = dictSource.map { r =>
      s"(${vStr(r.owner)}, ${vStr(r.name)}, ${vStr(r.obj_type)}, ${r.line})"
    }.mkString(",\n  ")
    s"src(owner, name, obj_type, line) AS (VALUES\n  $rows)"
  }

  private val synonymsCte: String = {
    val rows = dictSynonyms.map { r =>
      s"(${vStr(r.owner)}, ${vStr(r.synonym_name)}, ${vStr(r.table_owner)}, " +
        s"${vStr(r.table_name)})"
    }.mkString(",\n  ")
    s"syn(owner, synonym_name, table_owner, table_name) AS (VALUES\n  $rows)"
  }

  private val mviewsCte: String = {
    val rows = dictMviews.map { r =>
      s"(${vStr(r.owner)}, ${vStr(r.mview_name)}, " +
        s"${vStr(r.rewrite_capability)}, ${vStr(r.refresh_mode)}, " +
        s"${vStr(r.refresh_method)}, ${vStr(r.fast_refreshable)})"
    }.mkString(",\n  ")
    s"""mv(owner, mview_name, rewrite_capability, refresh_mode,
       |   refresh_method, fast_refreshable) AS (VALUES
       |  $rows)""".stripMargin
  }

  /** a30: code-object inventory — per-object line counts from
    * dba_source-shaped rows (`SELECT OWNER,NAME,TYPE,MAX(LINE)`,
    * `assess.go:306-314`): the PL/SQL surface a migration must port
    * by hand, sized in lines.
    */
  def a30CodeObjects(s: SparkSession, d: String): DataFrame =
    toDfSeq(s, dictSource)
      .groupBy("owner", "name", "obj_type")
      .agg(max("line").as("lines"))

  val a30Sql: String =
    s"""WITH $sourceCte
       |SELECT owner, name, obj_type, max(line) AS lines
       |FROM src GROUP BY 1, 2, 3""".stripMargin

  /** a31: synonym objects (`assess.go:344-351`) with a computed
    * cross-schema flag — a synonym pointing outside its owner schema
    * needs a qualified name (or a second synonym) on the target.
    */
  def a31Synonyms(s: SparkSession, d: String): DataFrame =
    toDfSeq(s, dictSynonyms)
      .withColumn("cross_schema",
        col("owner") =!= col("table_owner"))

  val a31Sql: String =
    s"""WITH $synonymsCte
       |SELECT owner, synonym_name, table_owner, table_name,
       |  owner <> table_owner AS cross_schema
       |FROM syn""".stripMargin

  /** a32: materialized-view refresh profile (`assess.go:353-360`)
    * rolled up by (refresh_mode, refresh_method) — the pair that
    * decides the target-side rewrite (MySQL-family targets have no
    * mviews; each group is one manual-migration bucket).
    */
  def a32MviewProfile(s: SparkSession, d: String): DataFrame =
    toDfSeq(s, dictMviews)
      .groupBy("refresh_mode", "refresh_method")
      .agg(count(lit(1)).as("n_mviews"))

  val a32Sql: String =
    s"""WITH $mviewsCte
       |SELECT refresh_mode, refresh_method, count(*) AS n_mviews
       |FROM mv GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------- registry

  /** a35: join-key skew profile — per candidate join column, the key
    * cardinality, hottest-key row count, and skew factor
    * (top1 × n_keys / n_rows; 1.0 = uniform) — the report that decides
    * WHERE j7's salting or AQE skew-split is worth wiring before a
    * 100 TB join melts one reducer. Two-stage partial-aggregable
    * group-bys per column, unioned into one plan; nothing driver-side.
    */
  def a35SkewProfile(s: SparkSession, d: String): DataFrame = {
    import graft.Tables
    val specs = Seq(("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
      ("lineitem", "l_suppkey"), ("orders", "o_custkey"))
    specs.map { case (t, c) =>
      Tables.load(s, d, t).groupBy(col(c)).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          max(col("n")).as("top1_rows"))
        .select(lit(t).as("table_name"), lit(c).as("join_col"),
          col("n_keys"), col("n_rows"), col("top1_rows"),
          ((col("top1_rows") * col("n_keys")).cast("double") /
            col("n_rows")).as("skew_factor"))
    }.reduce(_.unionAll(_))
  }

  val a35Sql: String = {
    val specs = Seq(("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
      ("lineitem", "l_suppkey"), ("orders", "o_custkey"))
    specs.map { case (t, c) =>
      s"""SELECT '$t' AS table_name, '$c' AS join_col,
         |  count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
         |  CAST(max(n) AS BIGINT) AS top1_rows,
         |  CAST(max(n) * count(*) AS DOUBLE) / CAST(sum(n) AS BIGINT)
         |    AS skew_factor
         |FROM (SELECT $c, count(*) AS n FROM $t GROUP BY 1) g""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  val registry: Seq[Query] = Seq(
    Query("a35_skew_profile", a35SkewProfile, a35Sql),
    Query("a30_code_objects", a30CodeObjects, a30Sql),
    Query("a31_synonyms", a31Synonyms, a31Sql),
    Query("a32_mview_profile", a32MviewProfile, a32Sql),
    Query("a20_table_type_counts", a20TableTypeCounts, a20Sql),
    Query("a21_partition_types", a21PartitionTypes, a21Sql),
    Query("a22_subpartition_types", a22SubpartitionTypes, a22Sql),
    Query("a23_temp_table_types", a23TempTableTypes, a23Sql),
    Query("a24_constraint_types", a24ConstraintTypes, a24Sql),
    Query("a25_default_value_counts", a25DefaultValueCounts, a25Sql),
    Query("a26_view_types", a26ViewTypes, a26Sql),
    Query("a27_index_types", a27IndexTypes, a27Sql),
    Query("a28_column_type_widths", a28ColumnTypeWidths, a28Sql),
    Query("a29_threshold_matrix", a29ThresholdMatrix, a29Sql))
}
