package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the function that builds its
  * DataFrame from a session and a testdata dir, and the DuckDB SQL its
  * result must hash-match. A query cannot be registered without an
  * oracle.
  *
  * The oracle is held unevaluated and read on each access, never while
  * the registering module is still initialising: some oracles embed
  * another module's SQL (`TextAnalysis.pipe7Sql` embeds Dedup's), and
  * reading one mid-init would bake the string "null" into it
  * (`InitOrderSpec` pins this for every first-touch order).
  */
final class Query(val name: String,
    val build: (SparkSession, String) => DataFrame, oracleSql: => String) {
  def oracle: String = oracleSql
}

object Query {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: => String): Query = new Query(name, build, oracle)
}
