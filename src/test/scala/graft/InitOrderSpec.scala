package graft

import org.scalatest.funsuite.AnyFunSuite

/** Locks the class-initialization-order contract: a library user may
  * touch ANY object first. In-JVM this is untestable (earlier suites
  * already initialized everything), so each case spawns a bare JVM
  * that forces one object first and checks the outcome — the
  * round-10 regression this pins: Dedup-first order NPE'd in
  * `Memo.memoWarmers` (then hosted inside Dedup, whose init
  * re-entered itself through TextAnalysis), and an eager
  * `TextAnalysis.pipe7Sql` would have baked the string "null" into
  * its oracle SQL under that order.
  */
class InitOrderSpec extends AnyFunSuite {

  /** Run `code` (a scala expression evaluated via a tiny main) in a
    * fresh JVM with this suite's classpath; return (exit, output).
    * No SparkSession is created — class INIT is the thing under test.
    */
  private def probe(firstTouch: String): (Int, String) = {
    val cp = System.getProperty("java.class.path")
    val java = System.getProperty("java.home") + "/bin/java"
    val pb = new ProcessBuilder(
      java, "-cp", cp, "graft.InitOrderProbe", firstTouch)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8")
    val exit = p.waitFor()
    (exit, out)
  }

  for (first <- Seq("dedup", "textanalysis", "similarity", "memo",
      "sparkentry", "taskmodes"))
    test(s"class-init starting from $first leaves every oracle intact") {
      val (exit, out) = probe(first)
      assert(exit == 0, s"probe($first) failed:\n${out.takeRight(2000)}")
      assert(out.contains("INIT-ORDER-OK"), out.takeRight(2000))
    }
}
