package graft.reverse

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.Query

/** Prepare mode — the reference seeds its EDITABLE rule tables into
  * the meta DB at `prepare` time (`module/prepare/prepare.go:98`,
  * built-ins `database/meta/buildin_datatype_rule.go:26-33`, per-scope
  * overrides `database/meta/datatype_rule_{schema,table,column}.go`),
  * and reverse/check load them back with column > table > schema >
  * built-in precedence (`module/reverse/oracle/public/rule_load.go:
  * 98-258`). Users edit the rows, not the binary.
  *
  * Here the meta store is a Parquet meta-dir: [[seedRules]] writes the
  * override tables as data, [[loadRules]] reads them back into a
  * [[RuleSet]] (bounded driver rows — exactly the reference's meta-DB
  * traffic), and the k9 query proves the seeded path resolves
  * identically to an independent SQL derivation of the same
  * precedence over the same seed rows.
  */
object Prepare {

  /** Column-scope overrides: (schema, table, column) → target type.
    * NDATE also matches the schema DATE rule — column must win.
    */
  val columnRuleSeed: Seq[(String, String, String, String)] = Seq(
    ("STEVEN", "MARVIN2", "VCHAR3", "LONGTEXT"),
    ("STEVEN", "MARVIN2", "NDATE", "VARCHAR(30)"))

  /** Table-scope overrides: (schema, table, source type) → target.
    * `NUMBER(*)` exercises the reference's wildcard normalization
    * (`rule_load.go:141-168`: bare/starred NUMBER ≡ NUMBER(38,127));
    * NUMBER(30,2) also matches a schema rule — table must win.
    */
  val tableRuleSeed: Seq[(String, String, String, String)] = Seq(
    ("STEVEN", "MARVIN2", "NUMBER(30,2)", "DECIMAL(32,2)"),
    ("STEVEN", "MARVIN2", "NUMBER(*)", "DECIMAL(38,0)"))

  /** Schema-scope overrides: (schema, source type) → target. DATE
    * hits marvin2.ndate (shadowed by its column rule) AND
    * marvin1lite.created (visible — proves schema scope spans tables).
    */
  val schemaRuleSeed: Seq[(String, String, String)] = Seq(
    ("STEVEN", "DATE", "DATETIME(3)"),
    ("STEVEN", "NUMBER(30,2)", "DECIMAL(33,2)"))

  /** Table rename rules (the reference's `name_rule_table`,
    * `database/meta/name_rule_table.go`), seeded as data like the
    * datatype rules; case-insensitive source match.
    */
  val nameRuleSeed: Seq[(String, String)] = Seq(
    ("MARVIN2", "T_MARVIN2"),
    ("marvin1lite", "M1L_CORE"))

  def seedRules(s: SparkSession, metaDir: String): Unit = {
    import s.implicits._
    columnRuleSeed
      .toDF("schema_name", "table_name", "column_name", "target_type")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$metaDir/datatype_rule_column")
    tableRuleSeed
      .toDF("schema_name", "table_name", "source_type", "target_type")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$metaDir/datatype_rule_table")
    schemaRuleSeed
      .toDF("schema_name", "source_type", "target_type")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$metaDir/datatype_rule_schema")
    nameRuleSeed
      .toDF("source_table", "target_table")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$metaDir/name_rule_table")
  }

  def loadNameRules(s: SparkSession, metaDir: String): Map[String, String] =
    s.read.parquet(s"$metaDir/name_rule_table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** Load the seeded tables back into the resolver. Rule tables are
    * catalog-bounded (the reference's are MySQL meta rows) — the
    * collect here is the same traffic its GORM reads do.
    */
  def loadRules(s: SparkSession, metaDir: String): RuleSet = {
    val cr = s.read.parquet(s"$metaDir/datatype_rule_column").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getString(3)).toMap
    val tr = s.read.parquet(s"$metaDir/datatype_rule_table").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getString(3)).toMap
    val sr = s.read.parquet(s"$metaDir/datatype_rule_schema").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    RuleSet(columnRules = cr, tableRules = tr, schemaRules = sr)
  }

  // ------------------------------------------------------------- queries

  /** k9: seed → load → resolve the whole zoo through the materialized
    * rules, with precedence-tier attribution. The oracle re-derives
    * every resolution from the same seed VALUES with its own
    * LEFT-JOIN precedence chain and wildcard normalization, so the
    * parquet write→read→resolve path and the precedence semantics are
    * both hash-checked against an independent implementation.
    */
  def k9RuleSeed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val metaDir = graft.operators.Migrate.tempDir("meta_rules")
    seedRules(s, metaDir)
    val rules = loadRules(s, metaDir)
    Reverse.zoo.map { z =>
      val c = Reverse.toOracleColumn(z)
      val (resolved, scope) = rules.resolveScoped("steven", z.table_name, c)
      (z.table_name, z.col_name, TypeMapper.originType(c),
        TypeMapper.mysqlType(c), resolved, scope)
    }.toDF("table_name", "col_name", "origin_type", "builtin_type",
      "resolved_type", "rule_scope")
  }

  val k9Sql: String = {
    def vStr(x: String) = "'" + x.replace("'", "''") + "'"
    val crVals = columnRuleSeed.map { case (s0, t, c, tgt) =>
      s"(${vStr(s0)}, ${vStr(t)}, ${vStr(c)}, ${vStr(tgt)})"
    }.mkString(",\n  ")
    val trVals = tableRuleSeed.map { case (s0, t, src, tgt) =>
      s"(${vStr(s0)}, ${vStr(t)}, ${vStr(src)}, ${vStr(tgt)})"
    }.mkString(",\n  ")
    val srVals = schemaRuleSeed.map { case (s0, src, tgt) =>
      s"(${vStr(s0)}, ${vStr(src)}, ${vStr(tgt)})"
    }.mkString(",\n  ")
    // the reference's rule-source normalization (rule_load.go:141-168)
    def norm(src: String) =
      s"""CASE WHEN $src LIKE 'NUMBER%' THEN
         |  CASE WHEN $src LIKE '%*%' AND $src LIKE '%,%'
         |         THEN replace($src, '*', '38')
         |       WHEN $src = 'NUMBER' OR $src LIKE '%*%'
         |         THEN 'NUMBER(38,127)'
         |       ELSE $src END
         |  ELSE $src END""".stripMargin
    s"""WITH ${Reverse.zooCte},
       |n AS (${Reverse.deriveSql} FROM zoo),
       |m AS (
       |  SELECT table_name, col_name,
       |    ${Reverse.originCaseSql} AS origin_type,
       |    ${Reverse.mysqlCaseSql} AS builtin_type
       |  FROM n),
       |cr(schema_name, tbl, col, tgt) AS (VALUES
       |  $crVals),
       |tr(schema_name, tbl, src, tgt) AS (VALUES
       |  $trVals),
       |sr(schema_name, src, tgt) AS (VALUES
       |  $srVals)
       |SELECT m.table_name, m.col_name, m.origin_type, m.builtin_type,
       |  upper(coalesce(cr.tgt, tr.tgt, sr.tgt, m.builtin_type))
       |    AS resolved_type,
       |  CASE WHEN cr.tgt IS NOT NULL THEN 'column'
       |       WHEN tr.tgt IS NOT NULL THEN 'table'
       |       WHEN sr.tgt IS NOT NULL THEN 'schema'
       |       ELSE 'builtin' END AS rule_scope
       |FROM m
       |LEFT JOIN cr ON cr.schema_name = 'STEVEN'
       |  AND upper(m.table_name) = cr.tbl AND upper(m.col_name) = cr.col
       |LEFT JOIN tr ON tr.schema_name = 'STEVEN'
       |  AND upper(m.table_name) = tr.tbl
       |  AND m.origin_type = ${norm("tr.src")}
       |LEFT JOIN sr ON sr.schema_name = 'STEVEN'
       |  AND m.origin_type = ${norm("sr.src")}""".stripMargin
  }

  /** k10: seeded name-rule application — rename rules round-trip
    * through the parquet meta store and apply to the zoo's table
    * names via [[Ddl.applyNameRule]] (case-insensitive source match,
    * identity when absent — `change.go:45-98`); the oracle re-derives
    * each rename with its own case-folded LEFT JOIN over the same
    * seed VALUES.
    */
  def k10NameRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val metaDir = graft.operators.Migrate.tempDir("meta_names")
    seedRules(s, metaDir)
    val rules = loadNameRules(s, metaDir)
    (Reverse.zoo.map(_.table_name).distinct :+ "other_table").map { t =>
      val tgt = Ddl.applyNameRule(t, rules)
      (t, tgt, tgt != t)
    }.toDF("source_table", "target_table", "renamed")
  }

  val k10Sql: String = {
    def vStr(x: String) = "'" + x.replace("'", "''") + "'"
    val srcVals = (Reverse.zoo.map(_.table_name).distinct :+ "other_table")
      .map(t => s"(${vStr(t)})").mkString(",\n  ")
    val ruleVals = nameRuleSeed.map { case (a, b) =>
      s"(${vStr(a)}, ${vStr(b)})"
    }.mkString(",\n  ")
    s"""SELECT source_table,
       |  coalesce(tgt, source_table) AS target_table,
       |  tgt IS NOT NULL AS renamed
       |FROM (VALUES
       |  $srcVals) s(source_table)
       |LEFT JOIN (VALUES
       |  $ruleVals) r(src, tgt)
       |  ON upper(s.source_table) = upper(r.src)""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("k9_rule_seed", k9RuleSeed, k9Sql),
    Query("k10_name_rules", k10NameRules, k10Sql))
}
