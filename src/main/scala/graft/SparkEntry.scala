package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Assess, Catalog, Check, Compare, Migrate, Pipeline,
  Relational, TaskModes}
import graft.reverse.{Prepare, Reverse}
import graft.streaming.Cdc
import graft.functions.{CharsetConvert, Dedup, Multimodal, Similarity,
  TableFilter, TextAnalysis}

/** Driver contract — see SURVEY.md §7.
  *
  * Each module registers its queries once, as a `Seq[Query]` that pairs
  * every query with its DuckDB oracle SQL. `queries` and `oracleSql`
  * are views derived from that one list, so both always cover the same
  * names; `RegistrySpec` checks that no name is registered twice.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.j1RevenueByNation(spark, "/root/testdata/sf0.001")

  /** Per-module registries, named so a duplicate query name can be
    * traced to the modules registering it (the derived maps would
    * silently keep one and shrink the verified surface).
    */
  private[graft] val registries: Seq[(String, Seq[Query])] = Seq(
    "Relational" -> Relational.registry, "Compare" -> Compare.registry,
    "Migrate" -> Migrate.registry, "Cdc" -> Cdc.registry,
    "TextAnalysis" -> TextAnalysis.registry, "Dedup" -> Dedup.registry,
    "Similarity" -> Similarity.registry, "Multimodal" -> Multimodal.registry,
    "Reverse" -> Reverse.registry, "Catalog" -> Catalog.registry,
    "Check" -> Check.registry, "TableFilter" -> TableFilter.registry,
    "CharsetConvert" -> CharsetConvert.registry, "Assess" -> Assess.registry,
    "Pipeline" -> Pipeline.registry, "Prepare" -> Prepare.registry,
    "TaskModes" -> TaskModes.registry)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.flatMap(_._2).map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    registries.flatMap(_._2).map(q => q.name -> q.oracle).toMap
}
