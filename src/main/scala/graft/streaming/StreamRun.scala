package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one harness every registered streaming arm (c11, w12, d15,
  * d16, a43, a46, a47, a48, t25, pipe19) runs through: it builds the
  * isolated stream session, picks the per-run scratch root, and waits
  * a started `AvailableNow` query out under one timeout — the single
  * poll-until-drained loop of the reference's incremental mode
  * (`incr.go:169-243`), instead of one copy per arm.
  *
  * Per-batch progress is not printed here: Spark's
  * `ProgressReporter` logs every micro-batch's
  * `StreamingQueryProgress` (durationMs parts, state-operator rows
  * and commit times) at INFO — see SCALE.md for the logger line.
  */
object StreamRun {

  /** Every arm's wait bound. A stream still running at this point is
    * stuck, not slow: the largest arm drains its feed in seconds.
    */
  private[graft] val TimeoutMs = 300000L

  /** The stream width from SPARK_GRAFT_STREAM_SHUFFLE's value, when
    * set: a positive integer, checked here rather than deep inside
    * Spark at stream start. Unset means 4, the measured local default
    * (r17): every state-store commit pays ~40-100 ms of per-store
    * checkpoint I/O per micro-batch regardless of state size (c11's
    * 32 stores at width 8 summed 3-6 s of commitTimeMs for KB-sized
    * state), so width sets the arms' fixed floor. Three interleaved
    * width-8-vs-4 bench-subset pairs (the 10 streaming queries, same
    * JVM binary, alternating): 28.4→26.3, 27.3→24.1, 23.4→21.8 s — w4
    * won every pair, concentrated in the many-store arms (c11
    * 4.2→2.8, w12 2.5→2.1 medians). The variable is the production
    * scale lever: state volume grows with input, so a cluster sizes
    * this UP (local state here is ≤100k rows, so 4 keeps plenty of
    * per-store headroom).
    */
  private[graft] def streamWidth(explicit: Option[String]): Int =
    explicit match {
      case Some(v) =>
        val n = Some(v.trim).filter(_.forall(_.isDigit))
          .flatMap(_.toIntOption).filter(_ > 0)
        require(n.isDefined,
          s"SPARK_GRAFT_STREAM_SHUFFLE must be a positive integer, got '$v'")
        n.get
      case None => 4
    }

  /** An isolated session (own SQLConf, shared context) whose shuffle
    * width — and with it the stateful operators' state-store count,
    * fixed at plan time — is `width` instead of the batch engine's
    * partition count: each store pays open/commit per micro-batch,
    * and a replayed corpus needs nowhere near 32. A cloned session
    * scopes the override, so nothing leaks into queries planning
    * concurrently on the shared session; sound because these streams
    * never compose with the caller's DataFrames (inputs and outputs
    * are paths or re-hosted local relations). The width only takes
    * effect on a FRESH checkpoint: a stateful query restarted on an
    * existing one keeps the partitioning pinned at its first run.
    */
  private[graft] def session(s: SparkSession,
      width: Int = streamWidth(sys.env.get("SPARK_GRAFT_STREAM_SHUFFLE")))
      : SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", width.toString)
    ss
  }

  /** Wait for an `AvailableNow` query to drain, then ALWAYS stop it.
    * The wait's boolean matters: a timed-out stream means TRUNCATED
    * output, which must fail loudly under the arm's name, never feed
    * the oracle a partial result. `timeoutMs` is a test seam; every
    * arm uses [[TimeoutMs]].
    */
  private[graft] def await(name: String, q: StreamingQuery,
      timeoutMs: Long = TimeoutMs): Unit =
    try require(q.awaitTermination(timeoutMs),
      s"$name stream did not terminate within ${timeoutMs / 1000} s")
    finally q.stop()

  /** Run one path-sink arm: `start` gets a fresh stream session and
    * a per-run RAM-backed scratch root ([[graft.operators.Migrate
    * .fastTempDir]]) for its checkpoint and output, and returns the
    * started query. Returns the root once the query has drained.
    */
  private[graft] def run(s: SparkSession, name: String)(
      start: (SparkSession, String) => StreamingQuery): String = {
    val root = graft.operators.Migrate.fastTempDir(name)
    await(name, start(session(s), root))
    root
  }

  /** Run a bounded-state COMPLETE-mode aggregation over a parquet
    * feed and re-host the emitted state table on the caller's session
    * (the memory sink registers it on the isolated stream session) —
    * the one copy of the machinery the streaming monitors (a43 drift,
    * a46 cardinality, a47 quantiles, a48 frequency) and t25's online
    * model share: each arm is just an aggregation plan in, an
    * estimator applied to the emitted bounded state out. The
    * checkpoint is explicit scratch: without it the memory sink gets
    * an implicit temp checkpoint under java.io.tmpdir, the slow-FS
    * commit path fastTempDir exists to avoid.
    */
  private[graft] def completeArm(s: SparkSession, name: String,
      feed: String, schema: String)(
      plan: DataFrame => DataFrame): DataFrame = {
    val ss = session(s)
    await(name, plan(ss.readStream.schema(schema).parquet(feed))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        graft.operators.Migrate.fastTempDir(s"${name}_ckpt"))
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start())
    val emitted = ss.table(name)
    s.createDataFrame(java.util.Arrays.asList(emitted.collect(): _*),
      emitted.schema)
  }
}
