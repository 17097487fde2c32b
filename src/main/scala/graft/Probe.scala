package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import scala.jdk.CollectionConverters._

/** Dev diagnostic over the registered queries, two subcommands:
  *
  *   sbt "runMain graft.Probe time <query> [runs] [sfDir]"
  *   sbt "runMain graft.Probe plan <outDir> <tag> [sfDir] [q1,q2,...]"
  *
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR`, the data dir `graft.Bench`
  * reads.
  *
  * `time` runs ONE query N times in one JVM and prints per-run wall
  * seconds plus the GC-time delta — separates "slow because
  * collecting" from "slow because the host stole the CPU". Memoized
  * inputs (d3 pairs, IVF cell assignment) persist across runs in one
  * JVM, so run 1 is the cold cost and runs 2+ measure the consumer
  * alone — both numbers matter.
  *
  * `plan` dumps `.explain("formatted")` of each named query (all when
  * none are named) to `<outDir>/<query>_<tag>.txt` — the
  * optimization-round evidence artifact (plans/r16, plans/r17). Like
  * [[PlanAudit]], building a query's DataFrame may run the operator's
  * bounded driver-side jobs (chunk planning, PQ training, streaming
  * runs whose registered query is the read-back of the stream's
  * output); the dumped plan is the registered DataFrame's — the thing
  * Bench times with `.count()`. Exits 1 if any plan failed.
  */
object Probe {
  private val usage =
    "usage: Probe time <query> [runs] [sfDir] | " +
      "Probe plan <outDir> <tag> [sfDir] [q1,q2,...]; " +
      "sfDir defaults to $SPARK_GRAFT_SF_DIR, as for graft.Bench"

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: name :: rest =>
      val runs = rest.headOption.fold(5)(_.toInt)
      time(name, runs, sfDir(rest.lift(1)))
    case "plan" :: outDir :: tag :: rest =>
      val names = rest.lift(1).map(_.split(",").map(_.trim).toSet)
      val failed = plan(outDir, tag, sfDir(rest.headOption), names)
      if (failed > 0) { println(s"[plandump] $failed FAILED"); sys.exit(1) }
    case _ => fail()
  }

  private def fail(): Nothing = { System.err.println(usage); sys.exit(2) }

  private def sfDir(arg: Option[String]): String =
    arg.orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(fail())

  private def session(): SparkSession = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def time(name: String, runs: Int, d: String): Unit = {
    val spark = session()
    val fn = SparkEntry.queries(name)
    def gcMs(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
    (1 to runs).foreach { i =>
      val g0 = gcMs()
      val t0 = System.nanoTime()
      val n = fn(spark, d).count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name run=$i rows=$n%d t=$t%.2f s gc=${(gcMs() - g0) / 1e3}%.2f s")
    }
    spark.stop()
  }

  /** Returns the number of queries whose plan failed. */
  private def plan(outDir: String, tag: String, sfDir: String,
      names: Option[Set[String]]): Int = {
    val spark = session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val picked = names match {
      case Some(ns) => SparkEntry.queries.filter { case (n, _) => ns(n) }
      case None => SparkEntry.queries
    }
    var failed = 0
    picked.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val body =
        try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch {
          case e: Throwable =>
            failed += 1
            s"PLAN FAILED: ${String.valueOf(e.getMessage).take(500)}"
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        body.getBytes("UTF-8"))
      println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
    failed
  }
}
