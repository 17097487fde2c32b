package graft

/** Spawned by [[InitOrderSpec]] in a FRESH JVM: force one object's
  * class init first (argv(0) picks which), then assert that every
  * cross-object SQL string materialized fully — a broken init cycle
  * surfaces either as an exception here (the round-10 NPE) or as the
  * literal "null" interpolated into an oracle by a partially
  * initialized provider. Prints INIT-ORDER-OK on success; any throw
  * exits nonzero via the default handler.
  */
object InitOrderProbe {
  def main(args: Array[String]): Unit = {
    args(0) match {
      // the FIRST line of each branch is the order under test; the
      // value must itself be real (nonempty / populated)
      case "dedup" =>
        require(graft.functions.Dedup.d1Sql.nonEmpty)
      case "textanalysis" =>
        require(graft.functions.TextAnalysis.t3Sql.nonEmpty)
      case "similarity" =>
        require(graft.functions.Similarity.registry.nonEmpty)
      case "sparkentry" =>
        require(SparkEntry.registries.nonEmpty)
      case "taskmodes" =>
        require(graft.operators.TaskModes.registry.nonEmpty)
      case "memo" =>
        require(graft.functions.Memo.memoWarmers != null)
      case other => sys.error(s"unknown first-touch: $other")
    }
    // now force EVERYTHING the driver surface forces, and scan every
    // oracle for a baked "null" (the silent half of the init bug)
    val oracles = SparkEntry.oracleSql
    require(oracles.nonEmpty, "no oracles registered")
    // a null provider interpolates as the literal "(null)" (every
    // embedded oracle is parenthesized as a derived table)
    val poisoned = oracles.filter { case (_, sql) =>
      sql == null || sql.contains("(null)")
    }
    require(poisoned.isEmpty,
      s"oracles with baked null: ${poisoned.keys.mkString(",")}")
    // and the warmup registry is populated (the NPE'd map)
    require(graft.functions.Memo.memoWarmers.size >= 10,
      s"warmers: ${graft.functions.Memo.memoWarmers.size}")
    println("INIT-ORDER-OK")
  }
}
