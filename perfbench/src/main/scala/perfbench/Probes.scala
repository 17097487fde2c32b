package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

/** Host-window probes: two pinned jobs that depend on nothing but the
  * host, recorded right after every run's measured pass so a slow
  * window can be told apart from a slow program. Diagnostic only: no
  * metric is ever divided by them.
  *
  *  - CPU + shuffle: hash 1M longs, shuffle-aggregate to 64Ki keys;
  *  - fixed cost: 4 near-empty jobs (scheduling, task launch, result
  *    fetch) plus one small parquet write and read-back (commit
  *    protocol, footer reads).
  *
  * Each is timed three times and the median kept, so the first, cold
  * sample never sets the figure.
  */
object Probes {

  private def median3(job: () => Unit): Double = {
    val xs = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e9
    }.sorted
    xs(1)
  }

  /** (cpu+shuffle seconds, fixed-cost seconds) */
  def run(spark: SparkSession, work: Path): (Double, Double) = {
    val cpu = median3(() => spark.range(0L, 1000000L, 1L, 4)
      .selectExpr("pmod(xxhash64(id), 65536) AS k", "id AS v")
      .groupBy("k").agg(sum("v")).count(): Unit)
    val dir = work.resolve("probe").toString
    val fixed = median3 { () =>
      (1 to 4).foreach(_ => spark.range(0L, 64L, 1L, 2).count())
      spark.range(0L, 1000L, 1L, 2).write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).count(): Unit
    }
    (cpu, fixed)
  }
}
