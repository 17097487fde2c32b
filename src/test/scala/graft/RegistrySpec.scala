package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants for the query registry. The name check
  * is the silent-shrinkage guard: the derived maps keep the LAST
  * binding on a name collision, so two modules registering the same
  * query name would quietly drop one implementation from the verified
  * surface. (A query without an oracle does not compile: [[Query]]
  * takes both.)
  */
class RegistrySpec extends AnyFunSuite {

  test("no two modules register the same query name") {
    val all = SparkEntry.registries.flatMap { case (mod, qs) =>
      qs.map(_.name -> mod)
    }
    val dupes = all.groupBy(_._1).filter(_._2.size > 1)
      .map { case (k, ms) => s"$k <- ${ms.map(_._2).mkString(",")}" }
    assert(dupes.isEmpty, dupes.mkString("; "))
    assert(SparkEntry.queries.size == all.size)
  }

  test("bench warmup names are live registry entries") {
    // Bench resolves warmups with `.get` (a missing name must not
    // fail the bench), so a renamed query would silently skip its
    // warmup and the d-family figures would regress to measuring
    // cache state — pin the list to the registry here instead.
    val missing = Bench.WarmupQueries.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"warmup names not in registry: $missing")
  }

  test("memo warmer registry holds every memoized shared relation") {
    // Bench warms graft.functions.Memo.memoWarmers by iterating the
    // registry (drift-proof by construction); this pins that module
    // init actually registers the known shared relations, so a
    // refactor that bypasses Dedup.memoized (hand-rolled TrieMap
    // cache) is caught instead of silently opting out of warmup.
    require(SparkEntry.queries.nonEmpty) // force module init
    val names = graft.functions.Memo.memoWarmers.keySet
    val expected = Set(
      "dedup.docsFeed", "cdc.eventsFeed", "cdc.w12Feed",
      "dedup.shingleIndex", "dedup.pairStats", "dedup.d3MinhashPairs",
      "dedup.d6Clusters", "dedup.d12ExactSubstring",
      "similarity.ann1Truth", "similarity.assignedCells",
      "similarity.pqSubVectors", "similarity.pqCodebook",
      "similarity.pqCodes",
      "similarity.ann11Rel", "similarity.ann11Sim",
      "similarity.ann12TruthF",
      "text.t7Decontaminate", "text.t14RarityProfile", "text.bpeVocab",
      "text.t24Model", "text.t25Feed",
      "multimodal.blobDir", "multimodal.phashBits",
      "multimodal.m8Pairs", "multimodal.m9Clusters",
      "taskmodes.csvDispatch",
      "pipeline.pipe15Publish", "pipeline.pipe16Setup",
      "pipeline.pipe18Setup", "pipeline.pipe19Inputs",
      "pipeline.pipe20Setup", "pipeline.pipe21Setup")
    // set EQUALITY, not subset: a dropped warmer silently opts its
    // family out of warmup (the r8 drift class), and an unpinned NEW
    // warmer is the same bug waiting for the next refactor — both
    // directions must fail here
    assert(names == expected,
      s"warmup registry drift: missing=${expected.diff(names)} " +
        s"unpinned=${names.diff(expected)}")
  }
}
