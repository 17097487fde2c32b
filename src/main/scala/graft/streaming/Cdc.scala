package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.{Query, Tables}

/** CDC apply engine — the reference's `all` mode incremental path
  * (`module/migrate/sql/oracle/o2m/incr.go`, LogMiner source S6,
  * translate/apply C5-C7), Spark-first with Structured Streaming.
  *
  * The reference polls LogMiner every 300 ms, filters records against
  * per-table SCN checkpoints with a replay guard (`logminer.go:134-175`),
  * and applies per-table serially / across-tables in parallel. Here:
  *
  *  - source    = `readStream` over a change-record feed (file-fed in
  *    tests; a DSv2 LogMiner source would slot in behind the same
  *    schema);
  *  - ordering  = SCN is a total order per key; apply is
  *    last-writer-wins by SCN, so per-key ordering needs no global
  *    sort — one window/agg per micro-batch;
  *  - replay    = exactly-effective semantics come from idempotency:
  *    records are deduped on (key, scn) and the merge is a pure
  *    function of the (state ∪ batch) multiset, so re-delivered
  *    batches (the reference's `SCN >=` first-pass guard) are no-ops;
  *  - sink      = append-only change log + merge-on-read compaction
  *    ([[applyChanges]]); [[compact]] rewrites materialized state.
  *    On a real lakehouse target this is `MERGE INTO` per micro-batch.
  *
  * The change feed for fixtures is the `events` table read as
  * (scn=event_id, key=user_id, op←event_type, value).
  */
object Cdc {

  /** Wire schema of a change record (SURVEY §1.3). `seq` is the
    * intra-SCN log position: real LogMiner feeds emit multiple
    * operations sharing one SCN within a transaction, and the
    * reference applies them in log order — without an explicit
    * sequence the last-writer-wins tiebreak would be nondeterministic
    * and engine-divergent.
    */
  val changeSchema: StructType = StructType(Seq(
    StructField("scn", LongType), StructField("seq", LongType),
    StructField("op", StringType),
    StructField("table_name", StringType), StructField("key", LongType),
    StructField("value", DoubleType)))

  /** events → change feed: deterministic op mapping usable in SQL.
    * SCN is coarsened (event_id div 8) so same-SCN groups actually
    * occur and `seq` (intra-SCN log position) is exercised — the
    * fixture would otherwise never hit the tiebreak path.
    */
  def eventsAsChanges(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events").select(
      (col("event_id") / 8).cast("long").as("scn"),
      (col("event_id") % 8).cast("long").as("seq"),
      when(col("event_type") === "signup", lit("INSERT"))
        .when(col("event_type") === "error", lit("DELETE"))
        .otherwise(lit("UPDATE")).as("op"),
      lit("events").as("table_name"),
      col("user_id").as("key"),
      col("value"))

  val eventsAsChangesSql: String =
    """SELECT CAST(event_id // 8 AS BIGINT) AS scn,
      |  CAST(event_id % 8 AS BIGINT) AS seq,
      |  CASE WHEN event_type = 'signup' THEN 'INSERT'
      |       WHEN event_type = 'error' THEN 'DELETE'
      |       ELSE 'UPDATE' END AS op,
      |  'events' AS table_name,
      |  user_id AS key, value
      |FROM events""".stripMargin

  /** Last-writer-wins apply: for each key take the highest-SCN record
    * (after (key,scn) dedup — the replay guard C4); the key survives
    * iff that record isn't a DELETE. Pure function of the record
    * multiset → idempotent under batch re-delivery, associative under
    * log concatenation, and shuffle-partitioned by key (scales by
    * keyspace, not log length).
    */
  def applyChanges(changes: DataFrame): DataFrame =
    lastChange(changes).filter(col("op") =!= "DELETE")

  /** Per-key arg-max change INCLUDING the DELETE tombstones — the
    * unit a stateful sink applies (upsert or delete per key).
    * Arg-max as max(struct(scn, seq, ...)): (scn, seq) is the total
    * log order, and replayed records are bit-identical, so the max is
    * well-defined under re-delivery — no (key,scn) dedup pass needed.
    * One partial-aggregable aggregate: no sort, no window, map-side
    * combine at 100 TB. (A row_number window would full-sort each
    * key's history and also trips Spark's exceptAll attribute-binding
    * bug when layered under set ops.)
    */
  def lastChange(changes: DataFrame): DataFrame =
    changes
      .groupBy(col("table_name"), col("key"))
      .agg(max(struct(col("scn"), col("seq"), col("op"), col("value")))
        .as("last"))
      .select(col("table_name"), col("key"), col("last.scn").as("scn"),
        col("last.seq").as("seq"),
        col("last.op").as("op"), col("last.value").as("value"))

  /** SQL mirror of [[applyChanges]]: the full ORDER BY (scn, seq, op,
    * value) DESC replicates the lexicographic struct-max exactly, so
    * both engines resolve same-(scn,seq) duplicates identically.
    */
  def applyChangesSql(changesRel: String): String =
    s"""SELECT table_name, key, scn, seq, op, value FROM (
       |  SELECT *, row_number() OVER (PARTITION BY table_name, key
       |      ORDER BY scn DESC, seq DESC, op DESC, value DESC) AS rn
       |  FROM ($changesRel) c
       |) t WHERE rn = 1 AND op <> 'DELETE'""".stripMargin

  /** Streaming apply: file-fed change stream → append-only change log
    * (exactly-once per file via the checkpoint), state = merge-on-read.
    * Micro-batch trigger mirrors the reference's poll loop (C1).
    */
  def streamApply(s: SparkSession, feedDir: String, logDir: String,
      checkpointDir: String): StreamingQuery =
    s.readStream.schema(changeSchema).parquet(feedDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(logDir)
      }
      .start()

  /** Compact the change log into materialized state (the periodic
    * REPLACE the reference does per record, amortized).
    *
    * 100 TB shape: the compacted state lands in a SCRATCH parquet dir
    * first and is then swapped into `stateDir` by a read-back write of
    * the at-rest files — never a `localCheckpoint` of the table-sized
    * relation before overwriting (the shape this function had until
    * r15, and the one pipe17 retired): scratch parquet spills to
    * storage and a lost executor recomputes its partitions from the
    * durable scan, where a block-manager checkpoint pins table-sized
    * state executor-resident and aborts the compaction with any lost
    * executor. The swap also makes `stateDir` safe to overwrite even
    * when a consumer derives it from the log being compacted.
    */
  def compact(s: SparkSession, logDir: String, stateDir: String): Unit = {
    val scratch = graft.operators.Migrate.tempDir("cdc_compact")
    try {
      val state = applyChanges(s.read.parquet(logDir))
      state.write.mode("overwrite").parquet(scratch)
      s.read.schema(state.schema).parquet(scratch)
        .write.mode("overwrite").parquet(stateDir)
    } finally graft.operators.Migrate.deleteTree(scratch)
  }

  // ------------------------------------- custom keyed state (C3 typed)

  /** Typed view of a change record for the stateful API. */
  final case class ChangeRow(scn: Long, seq: Long, op: String,
      table_name: String, key: Long, value: Option[Double])

  /** Running per-key progress carried in GroupState. */
  final case class KeyProgress(table_name: String, key: Long,
      n_changes: Long, last_scn: Long)

  /** Per-key custom state via `flatMapGroupsWithState` — the
    * KeyValueGroupedDataset state path for logic windows/watermarks
    * can't express: a running (change count, max SCN) per key,
    * surviving restarts through the streaming checkpoint (the typed
    * analogue of the reference's per-table `incr_sync_meta`
    * counters). Emits one updated KeyProgress per touched key per
    * micro-batch.
    *
    * State is BOUNDED, not forever: every update arms a
    * processing-time TTL; a key idle past `ttl` times out on a later
    * batch, emits a tombstone row (`n_changes = -1`, carrying the
    * final SCN) and its state is REMOVED — under an unbounded
    * keyspace (the reference's per-table map is bounded by schema
    * size, ours is per (table, key)) the store holds only the
    * working set. A key seen again after eviction restarts at n=1;
    * consumers wanting lifetime counts fold the tombstones.
    *
    * Termination contract: with a processing-time timeout armed,
    * Spark treats pending timeouts as potential work, so this query
    * does NOT self-terminate under `Trigger.AvailableNow` — the
    * caller stops it once the wanted output has landed (exactly how
    * the reference's poll loop is externally cancelled,
    * `incr.go:169-243`).
    */
  def trackKeyProgress(s: SparkSession, feedDir: String, outDir: String,
      checkpointDir: String, ttl: String = "30 minutes"): StreamingQuery = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    s.readStream.schema(changeSchema).parquet(feedDir)
      .as[ChangeRow]
      .groupByKey(r => (r.table_name, r.key))
      .flatMapGroupsWithState[(Long, Long), KeyProgress](
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (k: (String, Long), rows: Iterator[ChangeRow],
            state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val (n, mx) = state.get
            state.remove()
            Iterator(KeyProgress(k._1, k._2, -1L, mx))
          } else {
            val (n0, scn0) = state.getOption.getOrElse((0L, -1L))
            var n = n0
            var mx = scn0
            rows.foreach { r => n += 1; if (r.scn > mx) mx = r.scn }
            state.update((n, mx))
            state.setTimeoutDuration(ttl)
            Iterator(KeyProgress(k._1, k._2, n, mx))
          }
      }
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[KeyProgress], batchId: Long) =>
          batch.toDF().withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outDir)
          ()
      }
      .start()
  }

  // ---------------------------- custom session state + timeout (C8/C3)

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class OpenSession(startMs: Long, lastMs: Long, n: Long)
  final case class ClosedSession(user_id: Long, session_start:
      java.sql.Timestamp, n_events: Long)

  /** Custom sessionization via `flatMapGroupsWithState` +
    * EventTimeTimeout — the state-EVICTION path `mapGroupsWithState`
    * can't show: an open session lives in GroupState with a timeout
    * at last-event + gap; when the WATERMARK passes it, the state
    * times out, the session closes and the key's state is removed
    * (bounded state under unbounded keyspace). Gap-splitting inside a
    * batch happens in plain Scala over the sorted group; semantics
    * match the builtin `session_window` exactly, which the spec
    * cross-checks.
    */
  def sessionizeStream(s: SparkSession, feedDir: String, outDir: String,
      checkpointDir: String, gapMinutes: Int = 10): StreamingQuery = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapMinutes * 60000L
    s.readStream
      .schema(StructType(Seq(StructField("user_id", LongType),
        StructField("ts", TimestampType))))
      .parquet(feedDir)
      .withWatermark("ts", "10 seconds")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, events: Iterator[SessionEvent],
            state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed last-event + gap: close and EVICT
            val open = state.get
            state.remove()
            Iterator(ClosedSession(uid,
              new java.sql.Timestamp(open.startMs), open.n))
          } else {
            val sorted = events.map(_.ts.getTime).toSeq.sorted
            var open = state.getOption.orNull
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { t =>
              open match {
                case null => open = OpenSession(t, t, 1)
                case o if t < o.lastMs + gapMs =>
                  open = o.copy(lastMs = math.max(o.lastMs, t), n = o.n + 1)
                case o =>
                  closed += ClosedSession(uid,
                    new java.sql.Timestamp(o.startMs), o.n)
                  open = OpenSession(t, t, 1)
              }
            }
            state.update(open)
            state.setTimeoutTimestamp(open.lastMs + gapMs)
            closed.result().iterator
          }
      }
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[ClosedSession], _: Long) =>
          batch.toDF().write.mode("append").parquet(outDir)
          ()
      }
      .start()
  }

  // ------------------------------------ streaming conversion funnel (w9)

  final case class FunnelEvent(user_id: Long, event_type: String,
      epoch: Long)
  final case class FunnelProgress(user_id: Long, signup_t: Long,
      purchase_t: Long, bucket: String, finalized: Boolean)

  /** w9's conversion funnel as a STREAM — per-user signup→purchase
    * tracked in `mapGroupsWithState` instead of two batch aggregations
    * (the reference's CDC loop is incremental; a funnel fed by it
    * should be too). State per user is two Longs (first signup epoch,
    * first subsequent purchase epoch; -1 = unseen) — constant-size,
    * and the processing-time TTL evicts idle users (emitting a
    * `finalized` row) so the store holds the working set, never the
    * lifetime keyspace.
    *
    * Feed contract: per-user event-time-ordered delivery across
    * micro-batches, which is what an SCN-ordered change feed
    * ([[graft.sources.ChangeFeedSource]], this file's apply loop)
    * provides. Under that contract the incremental state is EXACTLY
    * the batch w9 semantics (first signup, first purchase ≥ it) —
    * CdcSpec proves equality against [[w9Funnel]] on the same feed.
    * An unordered feed needs the batch form.
    *
    * `filesPerTrigger` bounds each micro-batch (and, in the spec,
    * forces the state to actually carry across batches). Same
    * AvailableNow + ProcessingTimeTimeout termination contract as
    * [[trackKeyProgress]]: the caller stops the query.
    */
  def funnelStream(s: SparkSession, feedDir: String, outDir: String,
      checkpointDir: String, ttl: String = "30 minutes",
      filesPerTrigger: Int = 1): StreamingQuery = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    def bucketOf(su: Long, pu: Long): String =
      if (su < 0) "AWAITING_SIGNUP"
      else if (pu < 0) "NO_PURCHASE"
      else if (pu - su <= 3600) "WITHIN_1H"
      else if (pu - su <= 86400) "WITHIN_24H"
      else "LATER"
    s.readStream
      .schema(StructType(Seq(StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("epoch", LongType))))
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(feedDir)
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long), FunnelProgress](
        GroupStateTimeout.ProcessingTimeTimeout()) {
        (uid: Long, events: Iterator[FunnelEvent],
            state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val (su, pu) = state.get
            state.remove()
            FunnelProgress(uid, su, pu, bucketOf(su, pu), finalized = true)
          } else {
            var (su, pu) = state.getOption.getOrElse((-1L, -1L))
            // sort within the batch: the cross-batch order contract
            // doesn't constrain intra-batch iterator order. Signups
            // order BEFORE purchases at equal epoch — the batch w9
            // counts a same-second purchase (epoch >= signup_t), so
            // the stream must too, or the equivalence is data-
            // dependent on no same-second signup/purchase ties.
            events.toSeq.sortBy(e =>
              (e.epoch, if (e.event_type == "signup") 0 else 1)).foreach { e =>
              e.event_type match {
                case "signup" if su < 0 => su = e.epoch
                case "purchase" if su >= 0 && pu < 0 && e.epoch >= su =>
                  pu = e.epoch
                case _ => ()
              }
            }
            state.update((su, pu))
            state.setTimeoutDuration(ttl)
            FunnelProgress(uid, su, pu, bucketOf(su, pu), finalized = false)
          }
      }
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[FunnelProgress],
            batchId: Long) =>
          batch.toDF().withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outDir)
          ()
      }
      .start()
  }

  // ------------------------------------------- per-table watermarks (C3)

  /** Current per-table SCN watermark — arg-max over an append-only
    * watermark log (the `incr_sync_meta.table_scn_s` analogue,
    * `database/meta/sync_meta_incr.go:26-39`). Empty until the first
    * batch commits.
    */
  def currentWatermarks(s: SparkSession, wmDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(wmDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("table_name", StringType),
          StructField("wm_scn", LongType), StructField("wm_seq", LongType))))
    else
      s.read.parquet(wmDir)
        .groupBy("table_name")
        .agg(max(struct(col("wm_scn"), col("wm_seq"))).as("wm"))
        .select(col("table_name"), col("wm.wm_scn").as("wm_scn"),
          col("wm.wm_seq").as("wm_seq"))
  }

  /** Streaming apply with the reference's three concerns made
    * explicit:
    *  - C3: per-table SCN checkpoint — each batch advances a
    *    per-table (scn, seq) watermark in an append-only log;
    *  - C4: replay guard — records at or below the table's watermark
    *    are dropped BEFORE the sink (the `SCN >` re-mine guard,
    *    `logminer.go:134-175`), so an overlapping redo window —
    *    even one replayed with a fresh stream checkpoint — appends
    *    nothing twice;
    *  - C7: table-keyed fan-out — the change log is written
    *    `partitionBy(table_name)`: per-table directories, written
    *    concurrently by the sink tasks, ordered within a table by the
    *    (scn, seq) log order downstream.
    *
    * Source contract (same as the reference's): windows arrive in
    * nondecreasing SCN order per table — LogMiner mines logs in SCN
    * order (`logminer.go:63` ORDER BY SCN), so a batch never carries
    * records older than an already-committed batch except on re-mine,
    * which is exactly what the guard drops.
    *
    * Sink writes are per-(run, batch) OVERWRITE directories, not bare
    * appends: a batch that fails between the log write and the
    * watermark write re-runs on recovery and overwrites its OWN
    * output — the log can never accumulate duplicate rows from a
    * retried batch (bare append + retry would). The run id is the
    * streaming QUERY id read from the checkpoint's own metadata: it
    * persists across crash-recovery restarts of the same checkpoint
    * (so a replayed batch overwrites, not duplicates) and is
    * regenerated when the checkpoint is wiped — even at the same
    * path — so a fresh-start stream whose batch ids restart at 0
    * writes new directories instead of clobbering committed ones (a
    * path-derived id would collide there; a per-start UUID would
    * break retry dedup).
    */
  def streamApplyGuarded(s: SparkSession, feedDir: String, logDir: String,
      wmDir: String, checkpointDir: String,
      failpoint: String => Unit = _ => ()): StreamingQuery = {
    // resolved lazily on the first batch: StreamExecution writes
    // checkpointDir/metadata {"id": "<uuid>"} at query start
    lazy val runId: String = {
      val p = new org.apache.hadoop.fs.Path(s"$checkpointDir/metadata")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val text = new String(fs.open(p).readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      """"id"\s*:\s*"([0-9a-f-]+)"""".r.findFirstMatchIn(text)
        .map(_.group(1).replace("-", "").take(12))
        .getOrElse(throw new IllegalStateException(
          s"no query id in $p — cannot derive a stable run id"))
    }
    s.readStream.schema(changeSchema).parquet(feedDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val wm = broadcast(currentWatermarks(spark, wmDir))
        val fresh = batch.join(wm, Seq("table_name"), "left")
          .filter(col("wm_scn").isNull ||
            struct(col("scn"), col("seq")) >
              struct(col("wm_scn"), col("wm_seq")))
          .drop("wm_scn", "wm_seq")
          .localCheckpoint(true)
        if (!fresh.isEmpty) {
          fresh.write.mode("overwrite").partitionBy("table_name")
            .parquet(s"$logDir/run=$runId/batch=$batchId")
          // test seam for the documented hard case: a crash HERE (log
          // written, watermark not) leaves rows in the log below the
          // watermark — recovery re-runs the batch, the guard passes
          // the same rows (wm unmoved), and the overwrite directory
          // swallows them. Production callers leave the no-op.
          failpoint(s"log_written:$batchId")
          fresh.groupBy("table_name")
            .agg(max(struct(col("scn"), col("seq"))).as("m"))
            .select(col("table_name"), col("m.scn").as("wm_scn"),
              col("m.seq").as("wm_seq"))
            .write.mode("overwrite")
            .parquet(s"$wmDir/run=$runId/batch=$batchId")
        }
        ()
      }
      .start()
  }

  /** One redo/archive log's coverage: [firstScn, nextScn) — the
    * FIRST_CHANGE#/NEXT_CHANGE# pair of `v$log`/`v$archived_log`.
    */
  final case class LogFile(path: String, firstScn: Long, nextScn: Long)

  /** Log-window selection (C2) — which log files must be mined to
    * resume from a checkpoint: every file whose SCN range extends past
    * the checkpoint, in SCN order (the reference's redo-vs-archived
    * decision from min global SCN, `module/migrate/sql/oracle/o2m/
    * incr.go:507-548`, `database/oracle/all.go:24-142`). Pure — the
    * file list is bounded metadata; the chosen files feed the
    * streaming source.
    */
  def selectLogWindow(logs: Seq[LogFile], checkpointScn: Long): Seq[LogFile] =
    logs.filter(_.nextScn > checkpointScn).sortBy(_.firstScn)

  /** Multi-table change feed (table keyed off user_id) — exercises
    * per-table watermarks and fan-out; single-table feeds can't.
    */
  def multiTableChanges(s: SparkSession, d: String): DataFrame =
    eventsAsChanges(s, d).withColumn("table_name",
      when(col("key") % 3 === 0, lit("users"))
        .when(col("key") % 3 === 1, lit("carts"))
        .otherwise(lit("orders_t")))

  // ----------------------------------------------------- redo-SQL parse

  /** Redo-SQL text feed, LogMiner-shaped: each change rendered as the
    * SQL_REDO statements Oracle emits (`SQL_REDO` in
    * `V$LOGMNR_CONTENTS`; reference parses them with a SQL-parser AST
    * visitor, `module/migrate/sql/oracle/public/sqlparser.go:34-189`).
    * Values render through exact decimals so both engines build
    * byte-identical text.
    */
  /** Hostile redo statements — string values carrying Oracle's
    * quote-doubling ('' = literal ') in every position that breaks a
    * naive [^']* grammar: mid-value, doubled runs, a value that IS one
    * quote, and an empty value. One Scala Seq feeds BOTH the Spark
    * feed and the oracle's VALUES rendering, so the fixtures cannot
    * drift.
    */
  val hostileRedo: Seq[(Long, Long, String)] = Seq(
    (1000000001L, 0L,
      """insert into "GRAFT"."EVENTS"("KEY","VALUE") values ('901','O''Brien');"""),
    (1000000002L, 0L,
      """update "GRAFT"."EVENTS" set "VALUE" = 'it''s ''quoted''' where "KEY" = '902';"""),
    (1000000003L, 0L,
      """update "GRAFT"."EVENTS" set "VALUE" = '''' where "KEY" = '903';"""),
    (1000000004L, 0L,
      """insert into "GRAFT"."EVENTS"("KEY","VALUE") values ('904','');"""),
    (1000000005L, 0L,
      """delete from "GRAFT"."EVENTS" where "KEY" = '905';"""),
    // values that QUOTE THE GRAMMAR ITSELF: an unanchored clause
    // search would bind to the decoy WHERE/VALUES text inside the data
    (1000000006L, 0L,
      """update "GRAFT"."EVENTS" set "VALUE" = 'x where "KEY" = ''42''' where "KEY" = '906';"""),
    (1000000007L, 0L,
      """insert into "GRAFT"."EVENTS"("KEY","VALUE") values ('907','v values (''1'',''2'') end');"""))

  def redoFeed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = eventsAsChanges(s, d).withColumn("v",
      col("value").cast(org.apache.spark.sql.types.DecimalType(18, 3))
        .cast("string"))
    base.select(col("scn"), col("seq"),
      when(col("op") === "INSERT", concat(
        lit("insert into \"GRAFT\".\"EVENTS\"(\"KEY\",\"VALUE\") values ('"),
        col("key"), lit("','"), col("v"), lit("');")))
        .when(col("op") === "UPDATE", concat(
          lit("update \"GRAFT\".\"EVENTS\" set \"VALUE\" = '"), col("v"),
          lit("' where \"KEY\" = '"), col("key"), lit("';")))
        .otherwise(concat(
          lit("delete from \"GRAFT\".\"EVENTS\" where \"KEY\" = '"),
          col("key"), lit("';"))).as("sql_redo"))
      .unionAll(hostileRedo.toDF("scn", "seq", "sql_redo"))
  }

  val redoFeedSql: String = {
    val hostileValues = hostileRedo.map { case (scn, seq, sql) =>
      s"($scn, $seq, '${sql.replace("'", "''")}')"
    }.mkString(",\n  ")
    s"""SELECT scn, seq,
       |  CASE op
       |    WHEN 'INSERT' THEN 'insert into "GRAFT"."EVENTS"("KEY","VALUE") values (''' ||
       |      CAST(key AS VARCHAR) || ''',''' || v || ''');'
       |    WHEN 'UPDATE' THEN 'update "GRAFT"."EVENTS" set "VALUE" = ''' || v ||
       |      ''' where "KEY" = ''' || CAST(key AS VARCHAR) || ''';'
       |    ELSE 'delete from "GRAFT"."EVENTS" where "KEY" = ''' ||
       |      CAST(key AS VARCHAR) || ''';'
       |  END AS sql_redo
       |FROM (SELECT c.*, CAST(CAST(value AS DECIMAL(18,3)) AS VARCHAR) AS v
       |      FROM ($eventsAsChangesSql) c) r
       |UNION ALL SELECT scn, seq, sql_redo FROM (VALUES
       |  $hostileValues) h(scn, seq, sql_redo)""".stripMargin
  }

  /** The quoted-string grammar of Oracle redo: a run of non-quotes or
    * DOUBLED quotes between single quotes ('' = literal '). Round 2's
    * `[^']*` mis-parsed any value containing a quote; this grammar is
    * exact for machine-generated redo (values are always quoted, the
    * only escape is doubling). Unambiguous by construction: a single
    * quote can never be consumed inside the group, so the match always
    * ends at the true closing quote.
    */
  private val Q = "((?:[^']|'')*)"

  /** c5: parse redo SQL back into typed change records (C5) — pure
    * regexp extraction, codegen'd, no UDF, no driver loop; the
    * reference's AST walk collapses to three anchored patterns because
    * LogMiner redo is machine-generated SQL with fixed shape. Values
    * un-double their quotes after extraction.
    */
  def c5RedoParse(s: SparkSession, d: String): DataFrame =
    parseRedo(redoFeed(s, d))

  /** The parse itself, over ANY (scn, seq, sql_redo) relation — the
    * file-backed c5 feed and the JDBC-mined window ([[mineRedoJdbc]])
    * share it, so the live-mining seam parses with the exact grammar
    * the oracle-checked query pins.
    */
  def parseRedo(feed: DataFrame): DataFrame = {
    val op = upper(regexp_extract(col("sql_redo"),
      "^(insert|update|delete)", 1))
    def unq(c: org.apache.spark.sql.Column) = regexp_replace(c, "''", "'")
    // whole-clause anchored patterns, statement-terminator included:
    // an UNANCHORED `"KEY" = '...'` search would bind to that text
    // occurring INSIDE a value payload; matching the full
    // value-and-key tail (the quote grammar cannot stop a group at a
    // doubled quote, so backtracking lands on the true clause
    // boundaries) makes the parse exact even when values quote the
    // grammar's own keywords
    val insPat = s"values \\('$Q','$Q'\\);"
    val updPat = s"set \"VALUE\" = '$Q' where \"KEY\" = '$Q';"
    val delPat = s"delete from .* where \"KEY\" = '$Q';"
    val keyStr =
      when(op === "INSERT", regexp_extract(col("sql_redo"), insPat, 1))
        .when(op === "UPDATE", regexp_extract(col("sql_redo"), updPat, 2))
        .otherwise(regexp_extract(col("sql_redo"), delPat, 1))
    val valueStr =
      when(op === "INSERT", unq(regexp_extract(col("sql_redo"), insPat, 2)))
        .when(op === "UPDATE",
          unq(regexp_extract(col("sql_redo"), updPat, 1)))
        .otherwise(lit("NULL"))
    feed.select(col("scn"), col("seq"), op.as("op"),
      regexp_extract(col("sql_redo"), "\"GRAFT\"\\.\"([A-Z_]+)\"", 1)
        .as("table_name"),
      keyStr.cast("long").as("key"), valueStr.as("value_str"))
  }

  /** Synthetic DDL-bearing redo feed for [[c5bDdlRoute]]: signup
    * events deterministically render one of four DDL shapes — the two
    * the reference SYNCS (`drop table ... AS "BIN$...==$0"` in
    * Oracle's recycle-bin form, `truncate table ...`) and two it must
    * FILTER (`alter table`, `create index`). Heads are lower-case on
    * purpose: the reference routes on the UPPER-folded first two
    * words, so the feed exercises the fold.
    */
  private def ddlFeed(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .filter(col("event_type") === "signup")
      .select((col("event_id") / 8).cast("long").as("scn"),
        (col("event_id") % 8).cast("long").as("seq"), col("user_id"))
      .withColumn("k", col("user_id") % 20)
      .withColumn("sql_redo",
        when(col("user_id") % 4 === 0, concat(
          lit("drop table marvin_"), col("k"), lit(" AS \"BIN$"),
          md5(col("user_id").cast("string")), lit("==$0\"")))
          .when(col("user_id") % 4 === 1,
            concat(lit("truncate table marvin_"), col("k")))
          .when(col("user_id") % 4 === 2, concat(
            lit("alter table marvin_"), col("k"), lit(" add (extra number)")))
          .otherwise(concat(lit("create index idx_"), col("k"),
            lit(" on marvin_"), col("k"), lit("(key)"))))

  private val ddlFeedSql: String =
    """SELECT CAST(event_id // 8 AS BIGINT) AS scn,
      |  CAST(event_id % 8 AS BIGINT) AS seq,
      |  CASE CAST(user_id % 4 AS INT)
      |    WHEN 0 THEN 'drop table marvin_' || (user_id % 20) ||
      |      ' AS "BIN$' || md5(CAST(user_id AS VARCHAR)) || '==$0"'
      |    WHEN 1 THEN 'truncate table marvin_' || (user_id % 20)
      |    WHEN 2 THEN 'alter table marvin_' || (user_id % 20) ||
      |      ' add (extra number)'
      |    ELSE 'create index idx_' || (user_id % 20) || ' on marvin_' ||
      |      (user_id % 20) || '(key)'
      |  END AS sql_redo
      |FROM events WHERE event_type = 'signup'""".stripMargin

  /** c5b: DDL routing — the reference syncs exactly two DDL shapes
    * alongside DML (`logminer.go:31`, `incr` filter at
    * `module/migrate/sql/oracle/public/logminer.go:132-160`): the
    * first two words of the redo are UPPER-folded, only `DROP TABLE`
    * and `TRUNCATE TABLE` pass (every other DDL is dropped), and a
    * recycle-bin drop (`drop table t AS "BIN$..."`) is normalized by
    * upper-casing the statement and cutting at the first `AS` —
    * faithfully including the reference's truncate-at-ANY-`AS`
    * behavior, not a word-bounded variant. ONE deliberate deviation:
    * the reference's `strings.Split(upper, "AS")[0]` keeps the
    * trailing space before the cut; we `rtrim` it so `stmt_norm` is a
    * clean statement string (semantics identical — downstream routing
    * keys on `ddl_kind`/`table_name`, never on trailing whitespace —
    * but a byte-for-byte compare of normalized statements would
    * differ). Output is the routed DDL
    * record stream (scn, seq, kind, table, normalized statement);
    * case-folded table_name comes from the normalized statement, so
    * the DROP path is upper (as the reference forwards it) and the
    * TRUNCATE path verbatim. Pure projection + filter — codegen'd,
    * no shuffle at all; at 100 TB of redo this is a map-only pass.
    */
  def c5bDdlRoute(s: SparkSession, d: String): DataFrame = {
    val tok = split(col("sql_redo"), " ")
    ddlFeed(s, d)
      .withColumn("ddl_kind",
        upper(concat_ws(" ", element_at(tok, 1), element_at(tok, 2))))
      .filter(col("ddl_kind").isin("DROP TABLE", "TRUNCATE TABLE"))
      .withColumn("stmt_norm",
        when(col("ddl_kind") === "DROP TABLE",
          rtrim(substring_index(upper(col("sql_redo")), "AS", 1)))
          .otherwise(col("sql_redo")))
      .withColumn("table_name",
        element_at(split(col("stmt_norm"), " "), 3))
      .select("scn", "seq", "ddl_kind", "table_name", "stmt_norm")
  }

  val c5bSql: String =
    s"""WITH f AS ($ddlFeedSql),
       |r AS (
       |  SELECT scn, seq, sql_redo,
       |    upper(string_split(sql_redo, ' ')[1] || ' ' ||
       |          string_split(sql_redo, ' ')[2]) AS ddl_kind
       |  FROM f),
       |n AS (
       |  SELECT scn, seq, ddl_kind,
       |    CASE WHEN ddl_kind = 'DROP TABLE'
       |         THEN rtrim(split_part(upper(sql_redo), 'AS', 1))
       |         ELSE sql_redo END AS stmt_norm
       |  FROM r WHERE ddl_kind IN ('DROP TABLE', 'TRUNCATE TABLE'))
       |SELECT scn, seq, ddl_kind,
       |  string_split(stmt_norm, ' ')[3] AS table_name, stmt_norm
       |FROM n""".stripMargin

  /** One LogMiner mining window over a SQL-backed redo view — the
    * closest sandbox-possible shape of the reference's live source
    * (`database/oracle/all.go:144-176` scans `V$LOGMNR_CONTENTS` after
    * `DBMS_LOGMNR.START_LOGMNR(startScn, endScn)`; the window bounds
    * here play that role). The SCN-range predicate lives INSIDE the
    * pushed-down subquery, so the database scans only the window —
    * mining N windows reads the log once, exactly like the reference's
    * incr poll loop (`module/migrate/sql/oracle/o2m/incr.go:249-505`).
    * Output is [[parseRedo]]'s typed records; convert with
    * [[parsedToChanges]] and land in a feed dir for
    * [[streamApplyGuarded]] — the watermark guard then makes
    * overlapping windows safe, so a re-mined range is a no-op.
    */
  def mineRedoJdbc(s: SparkSession, url: String, table: String,
      fromScn: Long, toScn: Long): DataFrame =
    parseRedo(
      s.read.format("jdbc").option("url", url)
        .option("dbtable",
          s"""(SELECT scn, seq, sql_redo FROM $table
             | WHERE scn >= $fromScn AND scn < $toScn) w""".stripMargin)
        .load())

  /** Parsed redo records → the [[changeSchema]] feed shape: rendered
    * 'NULL' becomes SQL NULL, the value string re-types to double
    * (try_cast — a non-numeric payload in a double column's redo is a
    * data fault that must land as NULL, not kill the mining batch),
    * the table name folds to the feed's lower case.
    */
  def parsedToChanges(parsed: DataFrame): DataFrame =
    parsed.select(col("scn"), col("seq"), col("op"),
      lower(col("table_name")).as("table_name"), col("key"),
      when(col("value_str") === "NULL", lit(null))
        .otherwise(col("value_str")).try_cast("double").as("value"))

  val c5Sql: String = {
    // the same grammar as a DuckDB string literal (every ' doubled)
    val q = Q.replace("'", "''")
    val ins = s"values \\(''$q'',''$q''\\);"
    val upd = s"""set "VALUE" = ''$q'' where "KEY" = ''$q'';"""
    val del = s"""delete from .* where "KEY" = ''$q'';"""
    s"""SELECT scn, seq,
       |  upper(regexp_extract(sql_redo, '^(insert|update|delete)', 1)) AS op,
       |  regexp_extract(sql_redo, '"GRAFT"\\."([A-Z_]+)"', 1) AS table_name,
       |  CAST(CASE WHEN sql_redo LIKE 'insert%'
       |    THEN regexp_extract(sql_redo, '$ins', 1)
       |    WHEN sql_redo LIKE 'update%'
       |    THEN regexp_extract(sql_redo, '$upd', 2)
       |    ELSE regexp_extract(sql_redo, '$del', 1)
       |  END AS BIGINT) AS key,
       |  CASE WHEN sql_redo LIKE 'insert%'
       |    THEN replace(regexp_extract(sql_redo, '$ins', 2), '''''', '''')
       |    WHEN sql_redo LIKE 'update%'
       |    THEN replace(regexp_extract(sql_redo, '$upd', 1), '''''', '''')
       |    ELSE 'NULL'
       |  END AS value_str
       |FROM ($redoFeedSql) f""".stripMargin
  }

  // ------------------------------------------------------------- queries

  /** c6: batch-equivalent CDC apply over the events change feed. */
  def c6CdcApply(s: SparkSession, d: String): DataFrame =
    applyChanges(eventsAsChanges(s, d))

  val c6Sql: String = applyChangesSql(eventsAsChangesSql)

  /** Idempotent JDBC batch apply — the reference's translate-then-
    * execute path (C6: INSERT→REPLACE, UPDATE→delete+replace,
    * DELETE→DELETE, `module/migrate/sql/oracle/o2m/translate.go:
    * 147-334`, txn apply `apply.go:120-183`) against a real SQL
    * target. Each micro-batch reduces to its per-key arg-max change
    * ([[lastChange]] — the distributed part), then each partition
    * renders and executes guarded statements:
    *
    *  - upsert = `MERGE ... WHEN MATCHED AND (scn,seq) newer THEN
    *    UPDATE WHEN NOT MATCHED THEN INSERT` — the (scn,seq) guard is
    *    what makes replay a no-op: a redelivered batch carries
    *    bit-identical (scn,seq), the strict `>` fails, nothing moves
    *    (the reference's replay guard C4, moved into the sink);
    *  - DELETE by key (a replayed delete hits zero rows — no-op).
    *
    * Both statement shapes are bind-variable `PreparedStatement`s
    * prepared ONCE per partition (the reference's F10 prepared-batch
    * path, `translate.go:34-145`): the target parses and plans each
    * shape a single time instead of re-planning one rendered text
    * statement per row.
    * Per-partition connections; the buffers are flushed every
    * [[JdbcFlushEvery]] statements so sink-side buffering stays
    * O(flush window) however many keys the partition holds. Flushing
    * MERGE and DELETE as separate batches is safe because the input is
    * [[lastChange]] output — one change per key per delivery, so no two
    * statements in a batch touch the same row.
    */
  val JdbcFlushEvery = 1000
  val JdbcConnections = 4

  /** Which statement family the sink speaks — the reference ships two
    * (`module/migrate/sql/oracle/o2m/translate.go:118-334`):
    *
    *  - [[MergeDialect]]: guarded MERGE + guarded DELETE (the (scn,seq)
    *    staleness guard lives in the statement — replay and stale
    *    out-of-order changes are no-ops at the target). Standard SQL;
    *    what Derby and server-grade targets get.
    *  - [[ReplaceDialect]]: the reference's MySQL safe mode — multi-row
    *    `REPLACE INTO ... VALUES (?,..),(?,..)` for upserts, DELETE by
    *    key for deletes (`translate.go:118-128`). Unguarded: REPLACE is
    *    last-write-wins by arrival, so correctness rests on the feed
    *    being [[lastChange]]-reduced (one change per key per delivery)
    *    and replays being bit-identical redeliveries — exactly the
    *    contract the reference's safe mode assumes. Selected for
    *    MySQL-family URLs; a target without REPLACE grammar takes it
    *    through [[ReplaceShim]], which spells each REPLACE as
    *    delete-by-key then insert (per the MySQL manual, what REPLACE
    *    does).
    */
  private[graft] sealed trait SinkDialect
  private[graft] case object MergeDialect extends SinkDialect
  private[graft] case object ReplaceDialect extends SinkDialect

  private[graft] def dialectFor(url: String): SinkDialect =
    if (url.startsWith("jdbc:mysql:") || url.startsWith("jdbc:mariadb:"))
      ReplaceDialect
    else MergeDialect

  /** Rows folded into one native multi-row REPLACE statement. 100 rows
    * x 4 binds = 400 parameters per statement — well under every
    * driver's parameter cap, big enough that statement overhead
    * amortizes (the reference batches its safe-mode REPLACE the same
    * way, `translate.go:34-145`).
    */
  private[graft] val ReplaceRowsPerStmt = 100

  private[graft] def replaceSql(table: String, rows: Int): String =
    s"REPLACE INTO $table (k, scn, seq, v) VALUES " +
      Seq.fill(rows)("(?, ?, ?, ?)").mkString(", ")

  /** Embedded (in-process) JDBC targets run one lock manager inside
    * this JVM: concurrent writers buy no parallelism there and can
    * escalate row locks to table locks under load, so clamp those to a
    * single writer. A server-grade URL (`jdbc:derby://host`, or any
    * non-Derby target) keeps the full [[JdbcConnections]] fan-out.
    */
  private[graft] def sinkConnections(url: String): Int = {
    // the ReplaceShim prefix is transport, not a target: the clamp
    // decision belongs to the DELEGATE url (an embedded Derby behind
    // the shim still runs one in-process lock manager)
    val u = if (url.startsWith(ReplaceShim.Prefix))
      url.substring(ReplaceShim.Prefix.length) else url
    if (u.startsWith("jdbc:derby:") && !u.startsWith("jdbc:derby://")) 1
    else JdbcConnections
  }

  /** One partition's guarded apply over one connection. Returns the
    * number of `executeBatch` flushes — the spec's observable for the
    * backpressure contract: flushes == ceil(rows / flushEvery) proves
    * the statement buffer never held more than `flushEvery` entries,
    * however many keys the partition carried.
    */
  private[graft] def applyPartition(
      rows: Iterator[org.apache.spark.sql.Row], url: String,
      table: String, flushEvery: Int = JdbcFlushEvery,
      dialect: SinkDialect = null,
      rowsPerStmt: Int = ReplaceRowsPerStmt): Long = {
    val dia = if (dialect == null) dialectFor(url) else dialect
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      dia match {
        case MergeDialect => applyMerge(rows, conn, table, flushEvery)
        case ReplaceDialect =>
          applyReplace(rows, conn, table, flushEvery, rowsPerStmt)
      }
    } finally conn.close()
  }

  private def applyMerge(rows: Iterator[org.apache.spark.sql.Row],
      conn: java.sql.Connection, table: String, flushEvery: Int): Long = {
    {
      val merge = conn.prepareStatement(
        s"""MERGE INTO $table t
           |USING SYSIBM.SYSDUMMY1
           |ON t.k = ?
           |WHEN MATCHED AND (t.scn < ?
           |  OR (t.scn = ? AND t.seq < ?))
           |THEN UPDATE SET v = ?, scn = ?, seq = ?
           |WHEN NOT MATCHED THEN INSERT (k, scn, seq, v)
           |VALUES (?, ?, ?, ?)""".stripMargin)
      // the same staleness guard as the MERGE: a stale out-of-order
      // DELETE must not destroy newer state; an exact replay hits
      // zero rows either way. (A delete tombstone's value may be
      // NULL — never read.)
      val del = conn.prepareStatement(
        s"""DELETE FROM $table WHERE k = ?
           |AND (scn < ? OR (scn = ? AND seq <= ?))""".stripMargin)
      var pendingM = 0
      var pendingD = 0
      var flushes = 0L
      def flush(): Unit = {
        if (pendingM > 0) { merge.executeBatch(); pendingM = 0 }
        if (pendingD > 0) { del.executeBatch(); pendingD = 0 }
        flushes += 1
      }
      rows.foreach { r =>
        val (k, scn, seq, op) = (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))
        if (op == "DELETE") {
          del.setLong(1, k)
          del.setLong(2, scn); del.setLong(3, scn); del.setLong(4, seq)
          del.addBatch(); pendingD += 1
        } else {
          merge.setLong(1, k)
          merge.setLong(2, scn); merge.setLong(3, scn); merge.setLong(4, seq)
          // a NULL value on an INSERT/UPDATE is legal on the feed
          // (not just DELETE tombstones) — bind SQL NULL
          if (r.isNullAt(5)) {
            merge.setNull(5, java.sql.Types.DOUBLE)
            merge.setNull(11, java.sql.Types.DOUBLE)
          } else {
            merge.setDouble(5, r.getDouble(5))
            merge.setDouble(11, r.getDouble(5))
          }
          merge.setLong(6, scn); merge.setLong(7, seq)
          merge.setLong(8, k); merge.setLong(9, scn); merge.setLong(10, seq)
          merge.addBatch(); pendingM += 1
        }
        if (pendingM + pendingD >= flushEvery) flush()
      }
      if (pendingM + pendingD > 0) flush()
      conn.commit()
      merge.close(); del.close()
      flushes
    }
  }

  /** MySQL-family native path: full groups of [[ReplaceRowsPerStmt]]
    * rows execute through ONE prepared multi-row REPLACE (parsed and
    * planned once); the remainder rows at iterator end go through a
    * batched single-row REPLACE. Deletes batch separately — a key never
    * has both an upsert and a delete in one delivery ([[lastChange]]
    * emits one change per key), so cross-batch ordering cannot matter.
    */
  private def applyReplace(rows: Iterator[org.apache.spark.sql.Row],
      conn: java.sql.Connection, table: String, flushEvery: Int,
      rowsPerStmt: Int = ReplaceRowsPerStmt): Long = {
    val full = conn.prepareStatement(replaceSql(table, rowsPerStmt))
    val one = conn.prepareStatement(replaceSql(table, 1))
    val del = conn.prepareStatement(s"DELETE FROM $table WHERE k = ?")
    def bind(ps: java.sql.PreparedStatement, base: Int,
        r: org.apache.spark.sql.Row): Unit = {
      ps.setLong(base + 1, r.getLong(1))
      ps.setLong(base + 2, r.getLong(2))
      ps.setLong(base + 3, r.getLong(3))
      if (r.isNullAt(5)) ps.setNull(base + 4, java.sql.Types.DOUBLE)
      else ps.setDouble(base + 4, r.getDouble(5))
    }
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var pendingD = 0
    var flushes = 0L
    def flushDel(): Unit =
      if (pendingD > 0) { del.executeBatch(); pendingD = 0; flushes += 1 }
    rows.foreach { r =>
      if (r.getString(4) == "DELETE") {
        del.setLong(1, r.getLong(1))
        del.addBatch(); pendingD += 1
        if (pendingD >= flushEvery) flushDel()
      } else {
        buf += r
        if (buf.length == rowsPerStmt) {
          buf.zipWithIndex.foreach { case (br, i) => bind(full, i * 4, br) }
          full.executeUpdate(); buf.clear(); flushes += 1
        }
      }
    }
    // remainder (< one full group) goes through the single-row
    // statement as ONE executeBatch — the reference's remainder path
    buf.foreach { br => bind(one, 0, br); one.addBatch() }
    if (buf.nonEmpty) { one.executeBatch(); buf.clear(); flushes += 1 }
    flushDel()
    conn.commit()
    full.close(); one.close(); del.close()
    flushes
  }

  def applyBatchJdbc(batch: DataFrame, url: String, table: String,
      dialect: SinkDialect = null,
      rowsPerStmt: Int = ReplaceRowsPerStmt): Unit =
    lastChange(batch).coalesce(sinkConnections(url)).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        applyPartition(rows, url, table, dialect = dialect,
          rowsPerStmt = rowsPerStmt): Unit
    }

  /** The sink's target table: one row per live key, carrying the
    * (scn, seq) and value of the change that last wrote it.
    */
  val StateTable = "CDC_STATE"

  /** A fresh embedded Derby database holding an empty [[StateTable]];
    * returns its JDBC URL. `tag` names the scratch directory.
    */
  def stateTarget(tag: String): String = {
    val dbDir = graft.operators.Migrate.scratchDbDir(tag)
    val url = s"jdbc:derby:$dbDir/cdcdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(s"CREATE TABLE $StateTable (k BIGINT PRIMARY KEY, " +
        "scn BIGINT, seq BIGINT, v DOUBLE)")
      finally st.close()
    } finally conn.close()
    url
  }

  /** [[StateTable]] at `url` read back as (key, scn, seq, value). */
  def readState(s: SparkSession, url: String): DataFrame =
    s.read.format("jdbc").option("url", url)
      .option("dbtable", StateTable).load()
      .select(col("k").as("key"), col("scn"), col("seq"),
        col("v").as("value"))

  /** c6b: CDC apply into an embedded Derby target via guarded MERGE,
    * WITH a full duplicate delivery (the same batch applied twice —
    * the C4 replay case) — then the target is read back over JDBC.
    * The oracle computes the pure last-writer-wins state, so what the
    * hash proves is: translate→MERGE→replay→read-back lands exactly
    * the state the log defines, and the replay moved nothing.
    */
  def c6bJdbcMerge(s: SparkSession, d: String): DataFrame = {
    val url = stateTarget("derby_cdc")
    val feed = eventsAsChanges(s, d)
    applyBatchJdbc(feed, url, StateTable)
    applyBatchJdbc(feed, url, StateTable) // duplicate delivery: no-op
    readState(s, url)
  }

  val c6bSql: String =
    s"""SELECT key, scn, seq, value
       |FROM (${applyChangesSql(eventsAsChangesSql)}) t""".stripMargin

  /** The CDC apply + duplicate delivery through the REPLACE sink
    * ([[ReplaceDialect]] → [[applyReplace]]: full groups of
    * `rowsPerStmt` rows through one prepared multi-row statement, the
    * remainder through a batched single-row statement; the reference's
    * safe mode, `module/migrate/sql/oracle/o2m/translate.go:34-145`).
    * The embedded target has no REPLACE grammar, so [[ReplaceShim]]
    * translates it at the driver seam into delete-by-key + insert;
    * everything above the seam (statement text, the base-offset
    * parameter binding, group folding, remainder and delete batching)
    * is the path a MySQL URL takes. The oracle is c6b's: REPLACE over
    * a [[lastChange]]-reduced feed with bit-identical redelivery lands
    * the same last-writer-wins state as the guarded MERGE (the
    * safe-mode replay contract: state-idempotent, though not
    * write-idempotent like the guard).
    */
  private def replaceArm(s: SparkSession, d: String, tag: String,
      rowsPerStmt: Int): DataFrame = {
    val url = stateTarget(tag)
    val sink = ReplaceShim.wrap(url)
    val feed = eventsAsChanges(s, d)
    applyBatchJdbc(feed, sink, StateTable, ReplaceDialect, rowsPerStmt)
    // duplicate delivery: moves no state
    applyBatchJdbc(feed, sink, StateTable, ReplaceDialect, rowsPerStmt)
    readState(s, url)
  }

  /** c6c: [[replaceArm]] with 7-row statement groups, so the feed
    * splits into many full groups and a short remainder where c6d's
    * 100-row groups split it differently.
    */
  def c6cReplaceApply(s: SparkSession, d: String): DataFrame =
    replaceArm(s, d, "derby_cdc_rep", rowsPerStmt = 7)

  val c6cSql: String = c6bSql

  /** c6d: [[replaceArm]] with the default [[ReplaceRowsPerStmt]]
    * groups, the reference example's `insert-batch-size`.
    */
  def c6dReplaceNative(s: SparkSession, d: String): DataFrame =
    replaceArm(s, d, "derby_cdc_repnat", ReplaceRowsPerStmt)

  val c6dSql: String = c6bSql

  /** w9: conversion funnel over the event stream — per user, first
    * signup then first SUBSEQUENT purchase, bucketed by conversion
    * latency. The sequential-pattern shape every event pipeline needs;
    * two keyed aggregations and one equi-join on user_id (the
    * ordering constraint is a filter under the min, NOT a range
    * join — at 100 TB events this shuffles on user_id only, and the
    * signup side is one row per user, broadcastable).
    */
  def w9Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events").select(
      col("user_id"), col("event_type"),
      unix_timestamp(date_trunc("second", col("ts"))).as("epoch"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("epoch").as("signup_t"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .join(broadcast(signup), "user_id")
      .filter(col("epoch") >= col("signup_t"))
      .groupBy("user_id").agg(min("epoch").as("purchase_t"))
    signup.join(firstPurchase, Seq("user_id"), "left")
      .select(col("user_id"),
        (col("purchase_t") - col("signup_t")).as("delta_s"))
      .withColumn("bucket",
        when(col("delta_s").isNull, lit("NO_PURCHASE"))
          .when(col("delta_s") <= 3600, lit("WITHIN_1H"))
          .when(col("delta_s") <= 86400, lit("WITHIN_24H"))
          .otherwise(lit("LATER")))
  }

  val w9Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch
      |  FROM events),
      |s AS (SELECT user_id, min(epoch) AS signup_t FROM ev
      |      WHERE event_type = 'signup' GROUP BY 1),
      |p AS (SELECT ev.user_id, min(epoch) AS purchase_t
      |      FROM ev JOIN s USING (user_id)
      |      WHERE event_type = 'purchase' AND epoch >= signup_t
      |      GROUP BY 1)
      |SELECT s.user_id, purchase_t - signup_t AS delta_s,
      |  CASE WHEN purchase_t IS NULL THEN 'NO_PURCHASE'
      |       WHEN purchase_t - signup_t <= 3600 THEN 'WITHIN_1H'
      |       WHEN purchase_t - signup_t <= 86400 THEN 'WITHIN_24H'
      |       ELSE 'LATER' END AS bucket
      |FROM s LEFT JOIN p ON s.user_id = p.user_id""".stripMargin

  /** p5: CDC record filter (P5) — op whitelist + SCN checkpoint with
    * replay-guard boundary (`SCN >` after reset; `logminer.go:100-193`).
    */
  def p5CdcFilter(s: SparkSession, d: String): DataFrame =
    eventsAsChanges(s, d)
      .filter(col("op").isin("INSERT", "UPDATE", "DELETE") && col("scn") > 625)

  val p5Sql: String =
    s"""SELECT * FROM ($eventsAsChangesSql) c
       |WHERE op IN ('INSERT','UPDATE','DELETE') AND scn > 625""".stripMargin

  /** c8: tumbling-window stream aggregation (C8) — 5-minute windows
    * per event type. Window start rendered to seconds: the feed has
    * ns-precision timestamps, which Spark truncates to µs — formatted
    * strings are the cross-engine-stable form.
    */
  def c8WindowAgg(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"))

  val c8Sql: String =
    """SELECT strftime(time_bucket(INTERVAL '5 minutes', ts),
      |                '%Y-%m-%d %H:%M:%S') AS window_start,
      |       event_type, count(*) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin

  /** c9: session windows (10-minute gap) per user — Spark
    * `session_window`; the oracle rebuilds sessions as gaps-and-islands
    * (new session when ts >= prev + gap, matching Spark's half-open
    * [start, last+gap) windows).
    */
  def c9SessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"))

  val c9Sql: String =
    """SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  count(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM (
      |    SELECT user_id, ts,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |             OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                      + INTERVAL '10 minutes'
      |           THEN 1 ELSE 0 END AS new_session
      |    FROM events) f
      |) g GROUP BY user_id, island""".stripMargin

  /** c10: interval join — each signup joined to the same user's
    * actions inside the following 10 minutes, counted per signup.
    * This is the event-time as-of/interval family composed from an
    * equi-join plus a range predicate (SURVEY §2.3 preference (a):
    * compose existing ops — the user_id equi-key carries the shuffle,
    * the time range is a post-join filter, so the plan is a plain
    * hash join at any scale). Timestamps truncate to seconds first:
    * the feed is ns-precision and engines differ in sub-second
    * handling at the window boundary.
    */
  def c10IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .select(col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("tss"))
    val su = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("tss").as("signup_ts"))
    val ac = ev.filter(col("event_type") =!= "signup")
      .select(col("user_id"), col("tss").as("action_ts"))
    su.join(ac, Seq("user_id"))
      .filter(col("action_ts") >= col("signup_ts") &&
        col("action_ts") < col("signup_ts") + expr("interval 10 minutes"))
      .groupBy(col("user_id"),
        date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("signup_ts"))
      .agg(count(lit(1)).as("n_actions"))
  }

  val c10Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, date_trunc('second', ts) AS tss
      |  FROM events),
      |su AS (SELECT user_id, tss AS signup_ts FROM ev
      |       WHERE event_type = 'signup'),
      |ac AS (SELECT user_id, tss AS action_ts FROM ev
      |       WHERE event_type <> 'signup')
      |SELECT su.user_id,
      |  strftime(su.signup_ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
      |  count(*) AS n_actions
      |FROM su JOIN ac ON su.user_id = ac.user_id
      |  AND ac.action_ts >= su.signup_ts
      |  AND ac.action_ts < su.signup_ts + INTERVAL '10 minutes'
      |GROUP BY 1, 2""".stripMargin

  /** Stream-stream inner interval join (C8 family): both sides carry
    * watermarks so the join state is BOUNDED — a buffered signup can
    * be dropped once the action-side watermark passes its window end,
    * which is exactly the condition Spark derives from the range
    * predicate. Inner-join matches emit as soon as both rows arrive
    * (no watermark wait); the watermark only fences state eviction.
    * Emits the joined pairs append-only; aggregation happens
    * downstream (the batch-equivalent c10 pins semantics).
    */
  def streamIntervalJoin(s: SparkSession, feedDir: String, outDir: String,
      checkpointDir: String, gapMinutes: Int = 10): StreamingQuery = {
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("ts", TimestampType)))
    val ev = s.readStream.schema(schema).parquet(feedDir)
      .withColumn("tss", date_trunc("second", col("ts")))
    val su = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("tss").as("signup_ts"))
      .withWatermark("signup_ts", "1 hour")
    val ac = ev.filter(col("event_type") =!= "signup")
      .select(col("user_id").as("a_user"), col("tss").as("action_ts"))
      .withWatermark("action_ts", "1 hour")
    su.join(ac, expr(
      s"""user_id = a_user AND action_ts >= signup_ts
         |AND action_ts < signup_ts + interval $gapMinutes minutes"""
        .stripMargin))
      .select(col("user_id"), col("signup_ts"), col("action_ts"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir)
      .start()
  }

  /** The events table as a parquet feed for the streaming arms,
    * written once per (session, input dir) — the docsFeed pattern
    * (Dedup.scala) for the events stream.
    */
  private val eventsFeed: (SparkSession, String) => String =
    graft.functions.Memo.memoizedValue("cdc.eventsFeed") { (s, d) =>
      val feed = graft.operators.Migrate.tempDir("events_feed") + "/feed"
      graft.Tables.load(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value"))
        .repartition(8)
        .write.mode("overwrite").parquet(feed)
      feed
    }

  graft.functions.Memo.memoWarmers.put("cdc.eventsFeed",
    (s: SparkSession, d: String) => s.read.parquet(eventsFeed(s, d)))

  /** c11: the stream-stream interval join arm under the batch ORACLE
    * — [[streamIntervalJoin]] (both sides watermarked, bounded join
    * state) replayed over the events feed, its emitted pairs read
    * back and aggregated into c10's exact output shape, checked by
    * c10's own SQL. The d15/d16 treatment applied to the last
    * spec-only streaming arm: the equivalence "stream-stream interval
    * join ≡ batch interval join" now answers to the DuckDB hash gate,
    * not just to a ScalaTest assertion.
    */
  def c11StreamingIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val feed = eventsFeed(s, d)
    val root = StreamRun.run(s, "c11") { (ss, dir) =>
      streamIntervalJoin(ss, feed, s"$dir/out", s"$dir/ckpt")
    }
    s.read
      .schema("user_id LONG, signup_ts TIMESTAMP, action_ts TIMESTAMP")
      .parquet(s"$root/out")
      .groupBy(col("user_id"),
        date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("signup_ts"))
      .agg(count(lit(1)).as("n_actions"))
  }

  /** a43's melt + era-count plan over an events frame — the SAME
    * Column algebra whether the frame is a stream (the arm) or a
    * batch read (the spec's mirror), so the two cannot diverge.
    */
  private[graft] def a43Counts(ev0: DataFrame): DataFrame = {
    val ev = ev0.withColumn("is_base",
      date_trunc("second", col("ts")) <
        lit("2024-01-16").cast("timestamp"))
    val melt = ev.select(lit("event_type").as("col_name"),
        col("event_type").as("bucket"), col("is_base"))
      .unionAll(ev.select(lit("value").as("col_name"),
        least(floor(col("value") / 25.0), lit(19.0)).cast("long")
          .cast("string").as("bucket"), col("is_base")))
    melt.groupBy(col("col_name"), col("bucket"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_cur"))
  }

  private val EventsSchema =
    "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP, " +
      "value DOUBLE"

  private def eventsCompleteArm(s: SparkSession, d: String,
      name: String)(plan: DataFrame => DataFrame): DataFrame =
    StreamRun.completeArm(s, name, eventsFeed(s, d), EventsSchema)(plan)

  /** a43: the a40 drift gate run ONLINE — the shape a production
    * ingest actually deploys the monitor in. A streaming aggregation
    * over the events feed maintains the per-(column, bucket) era
    * counts (complete-mode: the state IS the bounded bucket table,
    * ~25 rows — no watermark needed because the aggregate itself is
    * the output), and the chi-square gate arithmetic is applied to
    * the emitted counts through [[graft.operators.Relational
    * .driftGateFrom]] — the SAME code path as the batch gate, so the
    * online monitor cannot drift from the gate it is hash-checked
    * against (the oracle is a DuckDB batch replay over the same
    * events). Era split on a fixed mid-window date, timestamps
    * truncated to seconds before comparison (the c10/c11 parity
    * discipline). Monitored: event_type (categorical) and the value
    * distribution in 20 fixed buckets. At 100 TB the state stays
    * bucket-table sized; every micro-batch does map-side partial
    * aggregation before touching it.
    */
  def a43StreamingDrift(s: SparkSession, d: String): DataFrame =
    graft.operators.Relational.driftGateFrom(
      eventsCompleteArm(s, d, "a43_counts")(a43Counts))

  val a43Sql: String = graft.operators.Relational.driftGateSql(
    """  SELECT 'event_type' AS col_name, event_type AS bucket,
      |    date_trunc('second', ts) < TIMESTAMP '2024-01-16' AS is_base
      |  FROM events
      |  UNION ALL
      |  SELECT 'value',
      |    CAST(CAST(least(floor(value / 25.0), 19) AS BIGINT) AS VARCHAR),
      |    date_trunc('second', ts) < TIMESTAMP '2024-01-16'
      |  FROM events""".stripMargin)

  /** a46's melt + register plan over an events frame — the SAME
    * Column algebra ([[graft.operators.Relational.hllRhoCols]], the
    * batch sketch's own map side) whether the frame is a stream (the
    * arm) or a batch read (the spec's mirror), the a43 discipline.
    */
  private[graft] def a46Regs(ev0: DataFrame): DataFrame =
    graft.operators.Relational.hllRhoCols(
      ev0.select(lit("events.user_id").as("col_name"),
          col("user_id").cast("string").as("v"))
        .unionAll(ev0.select(lit("events.event_type").as("col_name"),
          col("event_type").as("v"))))
      .groupBy(col("col_name"), col("bucket"))
      .agg(max(col("rho")).as("maxrho"))

  /** a46: the a44 HLL distinct sketch run ONLINE — the production
    * cardinality monitor. The register table IS the streaming state
    * (complete-mode aggregation, ≤ 4096 rows per monitored column,
    * max-rank merged — no watermark needed because the mergeable
    * aggregate is the output, a43's shape), and the estimator
    * arithmetic is applied to the emitted registers through
    * [[graft.operators.Relational.hllEstimateFrom]] — the SAME code
    * path as the batch sketch, so the online monitor cannot drift
    * from the estimator it is hash-checked against (the oracle is a
    * DuckDB batch replay of the sketch over the same events). No
    * exact-distinct ride-along here: online is exactly where the
    * COUNT(DISTINCT) shuffle the sketch exists to avoid is
    * unpayable. At 100 TB the state stays register-table sized;
    * every micro-batch max-merges map-side partials into it.
    */
  def a46StreamingHll(s: SparkSession, d: String): DataFrame =
    graft.operators.Relational.hllEstimateFrom(
      eventsCompleteArm(s, d, "a46_regs")(a46Regs))

  val a46Sql: String = {
    import graft.operators.Relational
    val melt0 =
      """  SELECT 'events.user_id' AS col_name,
        |    CAST(user_id AS VARCHAR) AS v FROM events
        |  UNION ALL
        |  SELECT 'events.event_type', event_type FROM events"""
        .stripMargin
    s"""WITH ${Relational.hllSketchSqlCtes(melt0)}
       |SELECT col_name, n_hit, sum_scaled,
       |  ${Relational.hllEstSql} AS est_x1e6,
       |  ${Relational.hllEstSql} > ${Relational.hllRangeGate} AS in_range
       |FROM sc""".stripMargin
  }

  /** a47's bucket width: 8.0 over the events value range (~0..500)
    * gives ~63 live buckets — the resolution/width trade a production
    * latency monitor tunes per metric (a45 uses 256 for the price
    * columns; the cap and read-off are shared).
    */
  private[graft] val A47Width = 8L

  /** a47's melt + histogram plan over an events frame — the SAME
    * Column algebra as the batch quantile sketch's map side
    * ([[graft.operators.Relational.histBucketCol]]), stream or batch.
    */
  private[graft] def a47Hist(ev0: DataFrame): DataFrame = ev0
    .select(lit("events.value").as("col_name"),
      graft.operators.Relational.histBucketCol(
        col("value").cast("double"), A47Width).as("bucket"))
    .groupBy(col("col_name"), col("bucket"))
    .agg(count(lit(1)).as("cnt"))

  /** a47: histogram quantiles ONLINE — the production latency/value
    * percentile monitor, completing the streaming-monitor triple
    * (a43 drift, a46 cardinality, a47 quantiles). The fixed-width
    * bucket histogram IS the streaming state (complete-mode counting
    * aggregation, ≤4096 rows — a43's shape), and the quantile
    * read-off is applied to the emitted histogram through
    * [[graft.operators.Relational.histQuantilesFrom]] — the SAME
    * code path as the batch sketch (a45), so the online monitor
    * cannot drift from the read-off it is hash-checked against (the
    * oracle is a DuckDB batch replay over the same events). At
    * 100 TB the state stays histogram-sized; every micro-batch does
    * map-side partial counts into it.
    */
  def a47StreamingQuantiles(s: SparkSession, d: String): DataFrame =
    graft.operators.Relational.histQuantilesFrom(
      eventsCompleteArm(s, d, "a47_hist")(a47Hist), A47Width)

  val a47Sql: String = {
    import graft.operators.Relational
    Relational.histQuantilesSql(
      s"""  SELECT 'events.value' AS col_name,
         |    ${Relational.histBucketSql("value", A47Width)} AS bucket
         |  FROM events""".stripMargin, A47Width)
  }

  /** a48's cell plan over an events frame — the SAME Column algebra
    * ([[graft.operators.Relational.cmsCellsFrom]] over
    * [[graft.operators.Relational.cmsKeys]], the batch sketch's own
    * map side) whether the frame is a stream or a batch read.
    */
  private[graft] def a48Cells(ev0: DataFrame): DataFrame =
    graft.operators.Relational.cmsCellsFrom(
      graft.operators.Relational.cmsKeys(ev0))

  /** a48: the a39 Count-Min frequency sketch run ONLINE — the last
    * of the four streaming monitors (a43 drift, a46 cardinality,
    * a47 quantiles, a48 FREQUENCY). The D×W cell table IS the
    * streaming state (complete-mode aggregation, ≤ 3·1024 rows,
    * cells merged by ADDITION — the CMS property a39's scaladoc
    * promises a streaming deployment, now cashed in), and the
    * decision read-off is applied to the emitted cells through
    * [[graft.operators.Relational.cmsTopKFrom]] — the batch
    * sketch's own code path, so the online monitor answers to
    * exactly a39's contract and oracle. The exact top-10 probe set
    * is a batch-side evaluation artifact (a39's "verifier, not the
    * operator"; a production monitor probes a bounded candidate
    * registry instead). At 100 TB the state stays cell-table sized;
    * every micro-batch sum-merges map-side partials into it.
    */
  def a48StreamingCms(s: SparkSession, d: String): DataFrame =
    graft.operators.Relational.cmsTopKFrom(
      eventsCompleteArm(s, d, "a48_cells")(a48Cells),
      graft.operators.Relational.cmsKeys(graft.Tables.load(s, d, "events")))

  /** a48's oracle IS a39's SQL: the same sketch replayed in batch
    * over the same events — hash equality is the stream ≡ batch
    * equivalence proof (w12/c11's pattern).
    */
  val a48Sql: String = graft.operators.Relational.a39Sql

  /** w12's replay feed: the events stream PLUS one far-future
    * sentinel row (user −1). Sessions only emit in append mode once
    * the WATERMARK passes their close; without the sentinel the
    * watermark stops at the last real event and every user's final
    * session stays open in state forever — the exact tail-loss d15
    * solved with timeouts, solved here the way a production feed
    * does it (a heartbeat/punctuation event).
    */
  private val w12Feed: (SparkSession, String) => String =
    graft.functions.Memo.memoizedValue("cdc.w12Feed") { (s, d) =>
      import s.implicits._
      val feed = graft.operators.Migrate.tempDir("w12_feed") + "/feed"
      val ev = graft.Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"),
          date_trunc("second", col("ts")).as("tss"))
      // bounded planning lookup: the sentinel sits 400 days past
      // the newest event, far beyond any session's close
      val mx = ev.agg(max(col("tss"))).head.getTimestamp(0)
      val sentinel =
        if (mx == null) ev.limit(0)
        else Seq((-1L, -1L, new java.sql.Timestamp(
          mx.getTime + 400L * 86400L * 1000L)))
          .toDF("user_id", "event_id", "tss")
      ev.unionByName(sentinel).repartition(8)
        .write.mode("overwrite").parquet(feed)
      feed
    }

  graft.functions.Memo.memoWarmers.put("cdc.w12Feed",
    (s: SparkSession, d: String) => s.read.parquet(w12Feed(s, d)))

  /** w12: sessionization ONLINE — w11's 30-minute gap rule as a
    * streaming `session_window` aggregation (Spark's native session
    * state: windows merge as events arrive, close when the watermark
    * passes last-event + gap, and emit exactly once in append mode
    * to a parquet sink — no driver-side data). The native window
    * merges sessions whose point-windows TOUCH (measured: a 1801 s
    * gap setting still merged events exactly 1801 s apart), i.e.
    * merge iff diff ≤ gap — so gap = 1800 s reproduces w11's
    * "new session iff diff > 1800" rule exactly. The batch
    * window index is recovered per user by ranking the emitted
    * sessions (disjoint by construction, so start times are unique
    * per user), and the oracle IS w11's SQL — one semantics, two
    * execution modes, the c11 pattern. At 100 TB: session state is
    * per-live-user and evicted at close; the emitted relation is
    * sessions-sized, re-indexed with one keyed window.
    */
  def w12StreamingSessionize(s: SparkSession, d: String): DataFrame = {
    val feed = w12Feed(s, d)
    val root = StreamRun.run(s, "w12") { (ss, dir) =>
      ss.readStream
        .schema("user_id LONG, event_id LONG, tss TIMESTAMP")
        .parquet(feed)
        .withWatermark("tss", "0 seconds")
        .groupBy(col("user_id"), session_window(col("tss"), "1800 seconds"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_timestamp(col("tss"))).as("start_epoch"),
          max(unix_timestamp(col("tss"))).as("end_epoch"))
        .select(col("user_id"), col("n_events"), col("start_epoch"),
          col("end_epoch"))
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$dir/out")
        .start()
    }
    val w = Window.partitionBy("user_id").orderBy("start_epoch")
    s.read
      .schema("user_id LONG, n_events LONG, start_epoch LONG, " +
        "end_epoch LONG")
      .parquet(s"$root/out")
      .filter(col("user_id") >= 0L) // drop the watermark sentinel
      .withColumn("sess_idx", row_number().over(w).cast("long"))
      .select(col("user_id"), col("sess_idx"), col("n_events"),
        col("start_epoch"), col("end_epoch"),
        (col("end_epoch") - col("start_epoch")).as("duration_s"))
  }

  /** w2: lag/lead stream context (W-family) — previous event type and
    * whole-second gap per user. Timestamps truncated to seconds before
    * differencing so ns-vs-µs precision cannot skew the result.
    */
  def w2LagLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.load(s, d, "events").select(
        col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("long").as("ts_sec"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("gap_sec",
        (col("ts_sec") - lag(col("ts_sec"), 1).over(w)).cast("long"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("prev_type"), lit("NONE")).as("prev_type"),
        coalesce(col("gap_sec"), lit(-1L)).as("gap_sec"))
  }

  val w2Sql: String =
    """SELECT event_id, user_id, event_type,
      |  coalesce(lag(event_type) OVER w, 'NONE') AS prev_type,
      |  coalesce(epoch(date_trunc('second', ts))::BIGINT
      |    - lag(epoch(date_trunc('second', ts))::BIGINT) OVER w, -1) AS gap_sec
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""".stripMargin

  // ------------------------------------------------------------- registry

  val registry: Seq[Query] = Seq(
    Query("c5_redo_parse", c5RedoParse, c5Sql),
    Query("c5b_ddl_route", c5bDdlRoute, c5bSql),
    Query("c6_cdc_apply", c6CdcApply, c6Sql),
    Query("c6b_jdbc_merge", c6bJdbcMerge, c6bSql),
    Query("c6c_jdbc_replace", c6cReplaceApply, c6cSql),
    Query("c6d_jdbc_replace_native", c6dReplaceNative, c6dSql),
    Query("p5_cdc_filter", p5CdcFilter, p5Sql),
    Query("c8_window_agg", c8WindowAgg, c8Sql),
    Query("c9_session_window", c9SessionWindow, c9Sql),
    Query("c10_interval_join", c10IntervalJoin, c10Sql),
    Query("c11_streaming_interval_join", c11StreamingIntervalJoin, c10Sql),
    Query("a43_streaming_drift", a43StreamingDrift, a43Sql),
    Query("a46_streaming_hll", a46StreamingHll, a46Sql),
    Query("a47_streaming_quantiles", a47StreamingQuantiles, a47Sql),
    Query("a48_streaming_cms", a48StreamingCms, a48Sql),
    // w12's oracle IS the batch sessionization's SQL (c11's pattern)
    Query("w12_streaming_sessionize", w12StreamingSessionize,
      graft.operators.Relational.w11Sql),
    Query("w2_lag_lead", w2LagLead, w2Sql),
    Query("w9_funnel", w9Funnel, w9Sql))
}
