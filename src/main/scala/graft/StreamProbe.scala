package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev diagnostic for the streaming fixed floor (r16 verdict item 3):
  * run ONE streaming arm shape N times in one JVM and print, per run,
  * the wall split into query START (source planning + state-store
  * init up to the first progress), per-BATCH durationMs components
  * (addBatch / walCommit / commitOffsets / getBatch / latestOffset —
  * the commit-log and state-store axes), and STOP/teardown — so the
  * "~23 s across 10 streaming queries" floor can be attributed to
  * state-store init vs per-batch commit I/O vs scheduling instead of
  * guessed at. Uses the same streamSession/eventsFeed machinery as
  * the arms themselves.
  *
  *   sbt "runMain graft.StreamProbe <complete|interval|neardup> [runs] [sfDir]"
  *
  * SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applies session-wide overrides so
  * checkpoint/commit knobs can be flipped without a code edit.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val shape = if (args.nonEmpty) args(0) else "complete"
    val runs = if (args.length > 1) args(1).toInt else 3
    val d = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val b = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    require(SparkEntry.queries.nonEmpty)

    val queryName = shape match {
      case "complete" => "a43_streaming_drift"
      case "interval" => "c11_streaming_interval_join"
      case "neardup" => "d15_streaming_near_dup"
      case "exact" => "d16_streaming_exact_dedup"
      case "session" => "w12_streaming_sessionize"
      case "admission" => "pipe19_streaming_admission"
      case other => other // any registry name
    }
    val fn = SparkEntry.queries(queryName)

    // Per-batch attribution comes from the arms themselves: set
    // SPARK_GRAFT_STREAM_PROGRESS=1 and each arm prints its
    // recentProgress durationMs at stop (Cdc.dumpProgress) — a
    // listener here couldn't see them (child-session queries never
    // reach a parent-session StreamingQueryManager).
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, d).count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[streamprobe] $queryName run=$i rows=$n%d t=$t%.2f s")
    }
    spark.stop()
  }
}
