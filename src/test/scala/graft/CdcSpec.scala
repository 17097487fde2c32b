package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.streaming.{Cdc, ReplaceShim, StreamRun}

class CdcSpec extends AnyFunSuite with SparkSessionTestWrapper {
  /** Run an AvailableNow query to completion and ALWAYS stop it
    * (the arms' own wait): armed processing-time timeouts can keep a
    * stateful query alive past its data, and an unstopped query is a
    * zombie that churns empty batches for the rest of the suite. A
    * stream still running after 120 s fails here, by name, not later
    * as an output mismatch.
    */
  private def runStream(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    StreamRun.await("CdcSpec", q, timeoutMs = 120000L)

  /** Run an AvailableNow query until `done` observes the expected
    * output, then stop it. Needed for ProcessingTimeTimeout queries:
    * with a processing-time timeout armed, Spark keeps scheduling
    * batches (timeouts are always potential work), so such a query
    * NEVER self-terminates under AvailableNow — termination is the
    * caller's job, keyed on the output actually landing.
    */
  private def runStreamUntil(
      q: org.apache.spark.sql.streaming.StreamingQuery)(
      done: => Boolean): Unit =
    try {
      val t0 = System.currentTimeMillis
      var finished = false
      while (!finished && System.currentTimeMillis - t0 < 120000) {
        finished = q.awaitTermination(500) ||
          scala.util.Try(done).getOrElse(false)
      }
    } finally q.stop()


  test("apply is idempotent under batch re-delivery (replay guard)") {
    val changes = Cdc.eventsAsChanges(spark, sf)
    val once = Cdc.applyChanges(changes)
    val replayed = Cdc.applyChanges(changes.unionAll(changes.limit(300)))
    assert(once.exceptAll(replayed).isEmpty && replayed.exceptAll(once).isEmpty)
  }

  test("deleted keys are absent; surviving keys carry max-SCN value") {
    val state = Cdc.applyChanges(Cdc.eventsAsChanges(spark, sf)).cache()
    val lastOps = Cdc.eventsAsChanges(spark, sf)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("key").orderBy(col("scn").desc, col("seq").desc)))
      .filter(col("rn") === 1)
    val deletedKeys = lastOps.filter(col("op") === "DELETE").select("key")
    assert(state.join(deletedKeys, "key").count() == 0)
    val liveKeys = lastOps.filter(col("op") =!= "DELETE").count()
    assert(state.count() == liveKeys)
    state.unpersist()
  }

  test("streaming file-fed apply converges to the batch-apply state") {
    val tmp = Files.createTempDirectory("graft_cdc").toString
    val feed = s"$tmp/feed"; val log = s"$tmp/log"
    val ckpt = s"$tmp/ckpt"; val stateDir = s"$tmp/state"
    // split the change feed into 4 files to force multiple input splits
    Cdc.eventsAsChanges(spark, sf).repartition(4)
      .write.parquet(feed)
    runStream(Cdc.streamApply(spark, feed, log, ckpt))
    // compact must not pin table-sized state to executor block
    // storage: no NEW persistent RDD (a localCheckpoint(true) would
    // register one and leave it resident) may survive the call —
    // the scratch-parquet swap keeps the whole rewrite spillable
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    Cdc.compact(spark, log, stateDir)
    val pinnedAfter = spark.sparkContext.getPersistentRDDs.keySet
    assert((pinnedAfter -- pinnedBefore).isEmpty,
      s"compact left block-manager-resident RDDs: ${pinnedAfter -- pinnedBefore}")
    // and its scratch dir is swept eagerly
    assert(!Option(new java.io.File(
        System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty).exists(f =>
        f.getName.startsWith("graft_cdc_compact") && f.exists()))
    val streamed = spark.read.parquet(stateDir)
    val batch = Cdc.applyChanges(Cdc.eventsAsChanges(spark, sf))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("restarting the stream over the same feed adds nothing (exactly-once)") {
    val tmp = Files.createTempDirectory("graft_cdc2").toString
    val feed = s"$tmp/feed"; val log = s"$tmp/log"; val ckpt = s"$tmp/ckpt"
    Cdc.eventsAsChanges(spark, sf).limit(200).write.parquet(feed)
    runStream(Cdc.streamApply(spark, feed, log, ckpt))
    val n1 = spark.read.parquet(log).count()
    runStream(Cdc.streamApply(spark, feed, log, ckpt))
    val n2 = spark.read.parquet(log).count()
    assert(n1 == n2, s"log grew from $n1 to $n2 on replay")
  }

  test("guarded stream: per-table watermarks advance, fan-out by table") {
    val tmp = Files.createTempDirectory("graft_cdc3").toString
    val feed = s"$tmp/feed"; val log = s"$tmp/log"
    val wm = s"$tmp/wm"; val ckpt = s"$tmp/ckpt"
    val changes = Cdc.multiTableChanges(spark, sf)
    changes.repartition(4).write.parquet(feed)
    runStream(Cdc.streamApplyGuarded(spark, feed, log, wm, ckpt))
    // C3: watermark per table equals the feed's max (scn, seq)
    val wants = changes.groupBy("table_name")
      .agg(max(struct(col("scn"), col("seq"))).as("m"))
      .select(col("table_name"), col("m.scn"), col("m.seq"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val gots = Cdc.currentWatermarks(spark, wm)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(gots == wants)
    // C7: inside each (run, batch) dir the log is physically
    // partitioned per table
    val tableDirs = new java.io.File(log).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles).filter(_.isDirectory)
      .flatMap(_.listFiles).filter(_.isDirectory).map(_.getName).toSet
    assert(tableDirs == Set("table_name=users", "table_name=carts",
      "table_name=orders_t"))
    assert(spark.read.parquet(log).count() == changes.count())
  }

  test("guarded stream recovery: crash between log write and watermark " +
    "write overwrites, never duplicates") {
    val tmp = Files.createTempDirectory("graft_cdc_crash").toString
    val feed = s"$tmp/feed"; val log = s"$tmp/log"
    val wm = s"$tmp/wm"; val ckpt = s"$tmp/ckpt"
    val changes = Cdc.multiTableChanges(spark, sf).limit(600)
    changes.write.parquet(feed)
    // run 1: die exactly at the documented hard point — the batch's
    // log directory is written, its watermark is NOT
    val q1 = Cdc.streamApplyGuarded(spark, feed, log, wm, ckpt,
      failpoint = label => if (label.startsWith("log_written"))
        throw new RuntimeException(s"injected crash at $label"))
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q1.awaitTermination(120000) finally q1.stop()
    }
    assert(failed.getMessage.contains("injected crash"),
      failed.getMessage)
    // torn state: log rows exist, watermark side is empty
    assert(spark.read.parquet(log).count() > 0)
    assert(Cdc.currentWatermarks(spark, wm).isEmpty)
    // run 2: same checkpoint, no failpoint — recovery re-runs the
    // uncommitted batch; the guard passes the SAME rows (watermark
    // never moved) and the per-(run,batch) overwrite swallows the
    // torn write instead of appending next to it
    runStream(Cdc.streamApplyGuarded(spark, feed, log, wm, ckpt))
    val logged = spark.read.parquet(log)
    assert(logged.count() == changes.count(),
      s"log has ${logged.count()} rows, feed has ${changes.count()}")
    assert(logged.groupBy("table_name", "scn", "seq", "key")
      .count().filter(col("count") > 1).isEmpty, "duplicate log rows")
    // and the watermark now matches the feed's per-table max
    val wants = changes.groupBy("table_name")
      .agg(max(struct(col("scn"), col("seq"))).as("m"))
      .select(col("table_name"), col("m.scn"), col("m.seq"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val gots = Cdc.currentWatermarks(spark, wm)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(gots == wants)
  }

  test("guarded stream: overlapping re-mine with a FRESH checkpoint appends nothing") {
    val tmp = Files.createTempDirectory("graft_cdc4").toString
    val changes = Cdc.multiTableChanges(spark, sf).limit(600)
    changes.write.parquet(s"$tmp/feed1")
    runStream(Cdc.streamApplyGuarded(spark, s"$tmp/feed1", s"$tmp/log",
      s"$tmp/wm", s"$tmp/ckpt1"))
    val n1 = spark.read.parquet(s"$tmp/log").count()
    // same records, new source dir + NEW checkpoint: only the
    // watermark guard (C4's `SCN >` rule) stands between this and
    // double-apply
    changes.write.parquet(s"$tmp/feed2")
    runStream(Cdc.streamApplyGuarded(spark, s"$tmp/feed2", s"$tmp/log",
      s"$tmp/wm", s"$tmp/ckpt2"))
    val n2 = spark.read.parquet(s"$tmp/log").count()
    assert(n1 == n2, s"log grew from $n1 to $n2 on re-mined window")
  }

  test("SQL-backed mining: V\\$LOGMNR_CONTENTS-shaped JDBC table, mined " +
    "in SCN windows through the guarded stream, lands the batch state") {
    // the sandbox approximation of the reference's LIVE LogMiner seam
    // (database/oracle/all.go:144-176): the redo feed sits in a real
    // SQL table with the V$LOGMNR_CONTENTS column shape, is mined in
    // SCN-range windows (each window a pushed-down range scan, like
    // START_LOGMNR(startScn, endScn)), parsed by the same grammar c5
    // pins, and applied through streamApplyGuarded
    val url = s"jdbc:derby:${graft.operators.Migrate.scratchDbDir("redo_mine")}/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      "CREATE TABLE REDO_LOG (scn BIGINT, seq BIGINT, " +
        "seg_owner VARCHAR(30), table_name VARCHAR(30), " +
        "operation VARCHAR(10), sql_redo VARCHAR(2000))")
    finally conn.close()
    val feed = Cdc.redoFeed(spark, sf)
    feed.select(col("scn"), col("seq"),
        lit("GRAFT").as("seg_owner"),
        regexp_extract(col("sql_redo"), "\"GRAFT\"\\.\"([A-Z_]+)\"", 1)
          .as("table_name"),
        upper(regexp_extract(col("sql_redo"), "^(insert|update|delete)", 1))
          .as("operation"),
        col("sql_redo"))
      .write.format("jdbc").option("url", url)
      .option("dbtable", "REDO_LOG").mode("append").save()
    val total = feed.count()
    // 4 SCN windows partitioning [min, max]: the hostile fixture rows
    // sit at scn ~1e9, so the middle windows are EMPTY ranges — the
    // empty-window path is exercised, not avoided
    val Array(minS, maxS) = feed.agg(min("scn"), max("scn")).collect()(0)
      .toSeq.map(_.toString.toLong).toArray
    val width = (maxS - minS) / 4 + 1
    val bounds = (0 to 4).map(i => minS + width * i)
    val tmp = Files.createTempDirectory("graft_redo_mine").toString
    val feedDir = s"$tmp/feed"
    var mined = 0L
    bounds.sliding(2).foreach { case Seq(lo, hi) =>
      val win = Cdc.parsedToChanges(
        Cdc.mineRedoJdbc(spark, url, "REDO_LOG", lo, hi))
      mined += win.count()
      win.write.mode("append").parquet(feedDir)
    }
    // windows partition the SCN space: every redo row mined exactly once
    assert(mined == total, s"mined $mined of $total")
    runStream(Cdc.streamApplyGuarded(spark, feedDir, s"$tmp/log",
      s"$tmp/wm", s"$tmp/ckpt"))
    // re-mine the LAST window into a second feed with a FRESH
    // checkpoint — only the per-table watermark guard stands between
    // an overlapping mine and double-apply
    Cdc.parsedToChanges(Cdc.mineRedoJdbc(spark, url, "REDO_LOG",
        bounds(3), bounds(4)))
      .write.mode("append").parquet(s"$tmp/feed2")
    runStream(Cdc.streamApplyGuarded(spark, s"$tmp/feed2", s"$tmp/log",
      s"$tmp/wm", s"$tmp/ckpt2"))
    val logged = spark.read.parquet(s"$tmp/log")
    assert(logged.count() == total,
      s"log has ${logged.count()} rows, feed has $total")
    // final state == the pure batch apply of the whole parsed feed
    val streamed = Cdc.applyChanges(logged)
      .select("table_name", "key", "scn", "seq", "op", "value")
    val batch = Cdc.applyChanges(
      Cdc.parsedToChanges(Cdc.parseRedo(feed)))
      .select("table_name", "key", "scn", "seq", "op", "value")
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("redo parse inverts redo synthesis: apply(parsed) == apply(direct)") {
    // round-trip the whole feed through SQL text and back, then apply;
    // the state must equal applying the structured feed directly
    val parsed = Cdc.c5RedoParse(spark, sf)
      .filter(col("scn") < 1000000000L) // hostile fixture rows aside
      .withColumn("table_name", lower(col("table_name")))
      .withColumn("value",
        when(col("value_str") === "NULL", lit(null))
          .otherwise(col("value_str")).cast("double"))
      .select("scn", "seq", "op", "table_name", "key", "value")
    val direct = Cdc.eventsAsChanges(spark, sf)
      .withColumn("value",
        // the redo text renders DECIMAL(18,3); apply the same quantum
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 3))
          .cast("double"))
    val a = Cdc.applyChanges(parsed).select("table_name", "key", "scn", "op")
    val b = Cdc.applyChanges(direct).select("table_name", "key", "scn", "op")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("redo parse survives quote-doubling in values (hostile fixture)") {
    val hostile = Cdc.c5RedoParse(spark, sf)
      .filter(col("scn") >= 1000000000L)
      .orderBy("scn")
      .collect()
      .map(r => (r.getLong(4), r.getString(2), r.getString(5)))
    assert(hostile.toSeq == Seq(
      (901L, "INSERT", "O'Brien"),
      (902L, "UPDATE", "it's 'quoted'"),
      (903L, "UPDATE", "'"),
      (904L, "INSERT", ""),
      (905L, "DELETE", "NULL"),
      (906L, "UPDATE", "x where \"KEY\" = '42'"),
      (907L, "INSERT", "v values ('1','2') end")))
  }

  test("charset: decode(encode(x)) round-trips for every mappable fixture") {
    import graft.functions.CharsetConvert
    val df = CharsetConvert.f1Charset(spark, sf)
    // only the documented lossy case (simplified CJK under Big5) fails
    val notOk = df.filter(!col("roundtrip_ok"))
      .select("id", "charset").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(notOk.toSeq == Seq((2, "Big5")))
  }

  test("flatMapGroupsWithState sessions match the builtin session_window") {
    val tmp = Files.createTempDirectory("graft_sess").toString
    val feed = s"$tmp/feed"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val events = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"))
    events.write.parquet(feed)
    runStream(Cdc.sessionizeStream(spark, feed, out, ckpt))
    // flush: one far-future event per user advances the watermark past
    // every open session's timeout, evicting and closing them all
    val flushTs = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    import spark.implicits._
    events.select("user_id").distinct()
      .withColumn("ts", lit(flushTs)).write.mode("append").parquet(feed)
    runStream(Cdc.sessionizeStream(spark, feed, out, ckpt))
    runStream(Cdc.sessionizeStream(spark, feed, out, ckpt))

    val streamed = spark.read.parquet(out)
      .filter(col("session_start") < lit(flushTs))
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("st"),
        col("n_events"))
    val batch = Cdc.c9SessionWindow(spark, sf)
      .select(col("user_id"), col("session_start").as("st"),
        col("n_events").cast("long").as("n_events"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")
  }

  test("mapGroupsWithState: per-key counters accumulate across restarts") {
    val tmp = Files.createTempDirectory("graft_mgws").toString
    val feed = s"$tmp/feed"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val all = Cdc.eventsAsChanges(spark, sf).limit(400).cache()
    val (first, second) = (all.limit(250), all.exceptAll(all.limit(250)))

    val n1 = first.count(); val n2 = n1 + second.count()
    // cumulative processed changes = per-key max of the running counter
    def emitted: Long = spark.read.parquet(out)
      .groupBy("table_name", "key").agg(max("n_changes").as("m"))
      .agg(sum("m")).head.getLong(0)
    first.write.mode("append").parquet(feed)
    runStreamUntil(Cdc.trackKeyProgress(spark, feed, out, ckpt))(
      emitted >= n1)
    second.write.mode("append").parquet(feed)
    runStreamUntil(Cdc.trackKeyProgress(spark, feed, out, ckpt))(
      emitted >= n2)

    // last emitted progress per key == batch truth over the WHOLE feed
    // (state restored from the checkpoint, not recomputed per run)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("table_name", "key").orderBy(col("batch_id").desc)
    val finalState = spark.read.parquet(out)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("table_name", "key", "n_changes", "last_scn")
    val truth = all.groupBy("table_name", "key")
      .agg(count(lit(1)).as("n_changes"), max("scn").as("last_scn"))
    assert(finalState.exceptAll(truth).isEmpty &&
      truth.exceptAll(finalState).isEmpty)
    all.unpersist()
  }

  test("keyed state evicts idle keys after TTL: tombstone, then fresh count") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_evict").toString
    val feed = s"$tmp/feed"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    def row(scn: Long, key: Long) =
      Seq((scn, 0L, "INSERT", "t1", key, Option(1.0)))
        .toDF("scn", "seq", "op", "table_name", "key", "value")
    // each run must be fully stopped before the next starts (two
    // queries on one checkpoint race state commits); each run ends
    // when its phase's expected output lands — a timeout-armed query
    // never self-terminates (see runStreamUntil)
    def runOnce(done: => Boolean): Unit =
      runStreamUntil(Cdc.trackKeyProgress(spark, feed, out, ckpt,
        ttl = "1 milliseconds"))(done)
    def outHas(pred: org.apache.spark.sql.Column): Boolean =
      spark.read.parquet(out).filter(pred).count() > 0
    // batch 1 touches key 1; TTL 1ms arms immediately
    row(1, 1L).write.mode("append").parquet(feed)
    runOnce(outHas(col("key") === 1L && col("n_changes") === 1L))
    Thread.sleep(100)
    // batch 2 touches only key 2 — key 1's state times out: tombstone + removal
    row(2, 2L).write.mode("append").parquet(feed)
    runOnce(outHas(col("key") === 1L && col("n_changes") === -1L))
    // batch 3 touches key 1 again — evicted state must NOT resume at 2
    row(3, 1L).write.mode("append").parquet(feed)
    runOnce(outHas(col("key") === 1L && col("last_scn") === 3L))
    val rows = spark.read.parquet(out).filter(col("key") === 1L)
      .orderBy("batch_id")
      .select("n_changes", "last_scn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // Stopping on-condition makes the appended output at-least-once
    // (an aborted batch replays on the next start), so assert the
    // lifecycle INVARIANTS, not an exact row sequence:
    //  - counting started at 1,
    //  - the idle key produced a tombstone,
    //  - after eviction the count restarted at 1 with the new SCN,
    //  - and NO row ever shows n=2 — the proof state was removed.
    assert(rows.head == (1L, 1L), s"first emission wrong: $rows")
    assert(rows.contains((-1L, 1L)), s"no eviction tombstone: $rows")
    assert(rows.contains((1L, 3L)), s"no fresh restart after evict: $rows")
    assert(!rows.exists(_._1 == 2L), s"state survived eviction: $rows")
  }

  test("stream-stream interval join converges to the batch interval join") {
    val tmp = Files.createTempDirectory("graft_ssj").toString
    val feed = s"$tmp/feed"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
      .write.parquet(feed)
    runStream(Cdc.streamIntervalJoin(spark, feed, out, ckpt))
    val streamed = spark.read.parquet(out)
      .groupBy(col("user_id"),
        date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("signup_ts"))
      .agg(count(lit(1)).as("n_actions"))
    val batch = Cdc.c10IntervalJoin(spark, sf)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")
  }

  test("streaming tumbling window + watermark drops late data (C8)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_wm").toString
    val feed = s"$tmp/feed"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(feed))

    def pushAndRun(stamps: Seq[String]): Unit = {
      stamps.map(java.sql.Timestamp.valueOf).toDF("ts")
        .write.mode("append").parquet(feed)
      runStream(spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType))))
        .parquet(feed)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"))
        .count()
        .select(date_format(col("window.start"), "HH:mm").as("w"),
          col("count"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    }

    // batch 1: 3 on-time rows in the 10:00 window, one at 10:16
    pushAndRun(Seq("2024-01-01 10:00:30", "2024-01-01 10:01:00",
      "2024-01-01 10:04:00", "2024-01-01 10:16:00"))
    // batch 2: watermark is now 10:06 — PAST the 10:00 window's end,
    // so that window finalizes with its on-time count and the late
    // 10:01:30 arrival must be discarded, not re-counted
    pushAndRun(Seq("2024-01-01 10:01:30", "2024-01-01 10:24:00"))
    // batch 3: advance the clock so nothing is left pending silently
    pushAndRun(Seq("2024-01-01 10:40:00"))

    val res = spark.read.parquet(out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the finalized 10:00 window counts its 3 on-time rows only —
    // the late 10:01:30 arrival was discarded by the watermark
    assert(res.get("10:00").contains(3L), res.toString)
    // no window is ever emitted twice
    val dups = spark.read.parquet(out).groupBy("w").count()
      .filter(col("count") > 1)
    assert(dups.isEmpty)
  }

  test("session windows: per-user event totals are preserved") {
    val sessions = Cdc.c9SessionWindow(spark, sf)
    val total = sessions.agg(sum("n_events")).head.getLong(0)
    assert(total == Tables.load(spark, sf, "events").count())
  }

  test("jdbc merge apply: stale replay never overwrites newer state") {
    import spark.implicits._
    val dbDir = graft.operators.Migrate.tempDir("cdc_merge_t")
    System.setProperty("derby.system.home", dbDir)
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      "CREATE TABLE S (k BIGINT PRIMARY KEY, scn BIGINT, seq BIGINT, v DOUBLE)")
    finally conn.close()
    def feed(rows: Seq[(Long, Long, String, Long, Option[Double])]) =
      rows.toDF("scn", "seq", "op", "key", "value")
        .withColumn("table_name", lit("t"))
    val older = feed(Seq(
      (1L, 0L, "INSERT", 1L, Some(1.0)), (1L, 0L, "INSERT", 2L, Some(2.0)),
      // a stale DELETE, older than the state it targets, with the
      // normal NULL-valued tombstone shape (the apply must never
      // read a tombstone's value)
      (1L, 1L, "DELETE", 3L, None)))
    val newer = feed(Seq(
      (2L, 0L, "UPDATE", 1L, Some(10.0)), (2L, 0L, "UPDATE", 2L, Some(20.0)),
      (2L, 0L, "INSERT", 3L, Some(30.0))))
    Cdc.applyBatchJdbc(newer, url, "S")
    // out-of-order delivery of the OLDER batch: the (scn,seq) guards
    // must reject the stale updates AND the stale delete
    Cdc.applyBatchJdbc(older, url, "S")
    val state = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "S").load()
      .collect().map(r => r.getAs[Long]("K") -> r.getAs[Double]("V")).toMap
    assert(state == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0), state.toString)
    // exact re-delivery of the newer batch is a no-op too
    Cdc.applyBatchJdbc(newer, url, "S")
    val again = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "S").load().count()
    assert(again == 3)
    // NULL values are legal on INSERT/UPDATE (not just tombstones):
    // the bind path must write SQL NULL through both MERGE branches —
    // the not-matched INSERT (key 4) and the matched UPDATE (key 1)
    val nulls = feed(Seq(
      (3L, 0L, "INSERT", 4L, None), (3L, 0L, "UPDATE", 1L, None)))
    Cdc.applyBatchJdbc(nulls, url, "S")
    val state2 = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "S").load()
      .collect().map(r => r.getAs[Long]("K") ->
        Option(r.getAs[java.lang.Double]("V"))).toMap
    assert(state2 == Map(1L -> None, 2L -> Some(20.0),
      3L -> Some(30.0), 4L -> None), state2.toString)
  }

  test("replace dialect: MySQL-family URLs select the native " +
    "multi-row REPLACE; delete-insert emulation is replay-idempotent") {
    import spark.implicits._
    // URL → dialect mapping (the reference picks its safe-mode
    // statement family off the target type the same way)
    assert(Cdc.dialectFor("jdbc:mysql://h:3306/db") == Cdc.ReplaceDialect)
    assert(Cdc.dialectFor("jdbc:mariadb://h/db") == Cdc.ReplaceDialect)
    assert(Cdc.dialectFor("jdbc:derby:/x/db") == Cdc.MergeDialect)
    assert(Cdc.dialectFor("jdbc:derby://host/db") == Cdc.MergeDialect)
    // the rendered native statement (translate.go:118-128 shape)
    assert(Cdc.replaceSql("T", 2) ==
      "REPLACE INTO T (k, scn, seq, v) VALUES (?, ?, ?, ?), (?, ?, ?, ?)")
    // REPLACE semantics against a live embedded target: the REPLACE
    // sink, its grammar spelled delete-by-key + insert by the shim
    val url = Cdc.stateTarget("cdc_replace_t")
    val sink = ReplaceShim.wrap(url)
    def feed(rows: Seq[(Long, Long, String, Long, Option[Double])]) =
      rows.toDF("scn", "seq", "op", "key", "value")
        .withColumn("table_name", lit("t"))
    val batch = feed(Seq(
      (2L, 0L, "INSERT", 1L, Some(10.0)), (2L, 0L, "INSERT", 2L, Some(20.0)),
      (2L, 1L, "DELETE", 3L, None), (2L, 0L, "INSERT", 4L, None)))
    def state() = Cdc.readState(spark, url)
      .collect().map(r => r.getAs[Long]("key") ->
        Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue)).toMap
    Cdc.applyBatchJdbc(batch, sink, Cdc.StateTable, Cdc.ReplaceDialect)
    val first = state()
    assert(first == Map(1L -> Some(10.0), 2L -> Some(20.0), 4L -> None),
      first.toString)
    // bit-identical redelivery: REPLACE semantics are state-idempotent
    Cdc.applyBatchJdbc(batch, sink, Cdc.StateTable, Cdc.ReplaceDialect)
    assert(state() == first)
    // the documented contract DIFFERENCE vs the guarded MERGE: REPLACE
    // is last-write-by-ARRIVAL — a stale batch delivered out of order
    // DOES overwrite (which is why safe mode requires ordered,
    // lastChange-reduced delivery; the MERGE guard does not)
    Cdc.applyBatchJdbc(feed(Seq((1L, 0L, "INSERT", 1L, Some(1.0)))),
      sink, Cdc.StateTable, Cdc.ReplaceDialect)
    assert(state()(1L) == Some(1.0))
    // flush contract: 500 upserts in 50-row groups execute as exactly
    // 10 statement groups, and 500 deletes with flushEvery = 100 flush
    // exactly 5 times, so the delete buffer never exceeds flushEvery
    val doomed = (1 to 500).map(i =>
      (4L, 0L, "INSERT", 200000L + i, Some(i * 1.0)))
    Cdc.applyBatchJdbc(feed(doomed), sink, Cdc.StateTable, Cdc.ReplaceDialect)
    assert(state().size == 503)
    val many = (1 to 500).flatMap(i => Seq(
      (5L, 0L, "INSERT", 100000L + i, Some(i * 1.0)),
      (5L, 0L, "DELETE", 200000L + i, None)))
    val flushes = Cdc.applyPartition(
      Cdc.lastChange(feed(many)).collect().iterator, sink, Cdc.StateTable,
      flushEvery = 100, dialect = Cdc.ReplaceDialect, rowsPerStmt = 50)
    assert(flushes == 15L, s"flushes=$flushes")
    val end = state()
    assert(end.size == 503 && !end.keys.exists(_ > 200000L), end.size.toString)
  }

  test("ReplaceShim: the NATIVE multi-row REPLACE path executes — " +
    "group folding, remainder, NULLs, deletes, replay") {
    import spark.implicits._
    // 233 upserts = 2 full 100-row groups through the prepared
    // multi-row statement + a 33-row remainder through the batched
    // single-row statement (the reference's remainder path,
    // translate.go:34-145) — plus deletes and a NULL value bind, all
    // through applyReplace itself, with the grammar translated at the
    // ReplaceShim driver seam
    val baseUrl = Cdc.stateTarget("cdc_shim_t")
    val url = ReplaceShim.wrap(baseUrl)
    // embedded delegate behind the shim keeps the single-writer clamp
    assert(Cdc.sinkConnections(url) == 1)
    val rows = (1 to 233).map(i => (2L, 0L, "INSERT", i.toLong,
        if (i == 7) None else Some(i * 1.0))) ++
      Seq((2L, 0L, "DELETE", 9999L, None))
    val batch = rows.toDF("scn", "seq", "op", "key", "value")
      .withColumn("table_name", lit("t"))
    def state() = Cdc.readState(spark, baseUrl)
      .collect().map(r => r.getAs[Long]("key") ->
        Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue)).toMap
    Cdc.applyBatchJdbc(batch, url, Cdc.StateTable, Cdc.ReplaceDialect)
    val first = state()
    assert(first.size == 233, s"size=${first.size}")
    assert(first(7L).isEmpty && first(1L) == Some(1.0) &&
      first(233L) == Some(233.0), first.take(5).toString)
    // bit-identical redelivery through the native path: state moves
    // nothing (REPLACE is delete+insert per key — same end state)
    Cdc.applyBatchJdbc(batch, url, Cdc.StateTable, Cdc.ReplaceDialect)
    assert(state() == first)
  }

  test("ReplaceShim: duplicate keys across batched statements follow " +
    "statement-order last-write-wins, like real REPLACE") {
    // the production feed (lastChange) emits globally distinct keys,
    // but the shim is a general portability layer: a key repeated
    // across two addBatch param-sets in ONE executeBatch must land
    // the LAST statement's row (real REPLACE per-statement
    // delete+insert), not fail on a duplicate key under the
    // all-deletes-then-all-inserts fast path
    val conn = java.sql.DriverManager.getConnection(
      ReplaceShim.wrap(Cdc.stateTarget("cdc_shim_dup")))
    try {
      val ps = conn.prepareStatement(Cdc.replaceSql(Cdc.StateTable, 1))
      def add(k: Long, v: Double): Unit = {
        ps.setLong(1, k); ps.setLong(2, 0L); ps.setLong(3, 0L)
        ps.setDouble(4, v); ps.addBatch()
      }
      add(1L, 1.0); add(2L, 2.0); add(1L, 10.0) // key 1 repeats
      ps.executeBatch()
      ps.close()
      val st = conn.createStatement()
      val rs = st.executeQuery(
        s"SELECT k, v FROM ${Cdc.StateTable} ORDER BY k")
      val got = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => r.getLong(1) -> r.getDouble(2)).toMap
      assert(got == Map(1L -> 10.0, 2L -> 2.0), got.toString)
    } finally conn.close()
  }

  test("jdbc apply scale contract: bounded statement buffer and " +
    "connection count hold under a 10x batch") {
    import spark.implicits._
    // ~10x the c6b feed's key count, all distinct keys
    val n = 12000
    val feed = (1 to n).map(i =>
      (i.toLong, 0L, "INSERT", i.toLong, Some(i * 1.0)))
      .toDF("scn", "seq", "op", "key", "value")
      .withColumn("table_name", lit("t"))
    val reduced = Cdc.lastChange(feed)
    // connection bound: the sink plans at most JdbcConnections
    // partitions = at most that many concurrent connections,
    // regardless of input partitioning
    assert(reduced.coalesce(Cdc.JdbcConnections).rdd.getNumPartitions
      <= Cdc.JdbcConnections)
    // worst case: every key lands in ONE partition; the flush count
    // proves the addBatch buffer never exceeded flushEvery entries
    val dbDir = graft.operators.Migrate.tempDir("cdc_scale")
    System.setProperty("derby.system.home", dbDir)
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      "CREATE TABLE S10 (k BIGINT PRIMARY KEY, scn BIGINT, seq BIGINT, " +
        "v DOUBLE)")
    finally conn.close()
    val flushes = Cdc.applyPartition(
      reduced.collect().iterator, url, "S10", flushEvery = 1000)
    assert(flushes == math.ceil(n / 1000.0).toLong, s"flushes=$flushes")
    val landed = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "S10").load().count()
    assert(landed == n)
  }

  test("stream-static enrichment join converges to the batch join") {
    // the CDC enrichment shape: each change row joined against a
    // static dimension (broadcast per micro-batch; the dimension is
    // re-resolvable, so a dim update between batches is picked up —
    // the property a static-static join can't give a long-lived feed)
    val feed = Files.createTempDirectory("graft_enrich_feed").toString
    val out = Files.createTempDirectory("graft_enrich_out").toString
    val ckpt = Files.createTempDirectory("graft_enrich_ck").toString
    val changes = Cdc.eventsAsChanges(spark, sf)
    changes.write.mode("append").parquet(feed)
    val dim = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val q = spark.readStream.schema(changes.schema).parquet(feed)
      .join(broadcast(dim), col("key") === col("c_custkey"))
      .select(col("scn"), col("seq"), col("key"), col("c_mktsegment"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
          ()
      }
      .start()
    runStream(q)
    val streamed = spark.read.parquet(out)
    val batch = changes.join(broadcast(dim), col("key") === col("c_custkey"))
      .select(col("scn"), col("seq"), col("key"), col("c_mktsegment"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming funnel (mapGroupsWithState + TTL) matches the batch " +
    "w9 funnel on the same feed") {
    val feed = Files.createTempDirectory("graft_funnel_feed").toString
    val out = Files.createTempDirectory("graft_funnel_out").toString
    val ckpt = Files.createTempDirectory("graft_funnel_ck").toString
    val ev = Tables.load(spark, sf, "events").select(
      col("user_id"), col("event_type"),
      unix_timestamp(date_trunc("second", col("ts"))).as("epoch"))
    // three sequential time-sliced files: per-user event-time-ordered
    // delivery across micro-batches (the SCN-order contract), and
    // maxFilesPerTrigger=1 forces the state to carry batch-to-batch
    val row = ev.agg(min("epoch"), max("epoch")).collect()(0)
    val (mn, mx) = (row.getLong(0), row.getLong(1))
    val (b0, b1) = (mn + (mx - mn) / 3, mn + 2 * (mx - mn) / 3)
    Seq(col("epoch") <= b0,
      col("epoch") > b0 && col("epoch") <= b1,
      col("epoch") > b1).zipWithIndex.foreach { case (p, i) =>
      ev.filter(p).coalesce(1).write.mode("append").parquet(feed)
      // FileStreamSource orders by millisecond mtime: two writes in
      // the same ms would let a later slice process first — pin each
      // slice's files to a strictly increasing minute
      val dir = new java.io.File(feed)
      dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        if (f.lastModified() > i * 60000L)
          f.setLastModified((i + 1) * 60000L)
      }
    }
    val expected = Cdc.w9Funnel(spark, sf)
      .collect().map(r => r.getAs[Long]("user_id") ->
        r.getAs[String]("bucket")).toMap
    runStreamUntil(Cdc.funnelStream(spark, feed, out, ckpt))({
      val o = spark.read.parquet(out)
      o.agg(max("batch_id")).head.getLong(0) >= 2 &&
        o.filter(col("signup_t") >= 0).select("user_id").distinct()
          .count() == expected.size
    })
    // last progress row per user == the batch funnel's verdict
    val last = spark.read.parquet(out)
      .filter(col("signup_t") >= 0)
      .groupBy("user_id")
      .agg(max(struct(col("batch_id"), col("bucket")))
        .getField("bucket").as("bucket"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        r.getAs[String]("bucket")).toMap
    assert(last == expected,
      s"stream/batch funnel diverged on ${
        (last.toSet diff expected.toSet).take(5)} ...")
  }

  test("streaming funnel counts a same-second signup+purchase tie in " +
    "one batch (batch w9's epoch >= signup_t semantics)") {
    import spark.implicits._
    val feed = Files.createTempDirectory("graft_tie_feed").toString
    val out = Files.createTempDirectory("graft_tie_out").toString
    val ckpt = Files.createTempDirectory("graft_tie_ck").toString
    // purchase row FIRST in the file: sortBy is stable, so an
    // epoch-only intra-batch sort would iterate the purchase before
    // the signup and drop it (su still -1) — the batch w9 counts it
    // via epoch >= signup_t. The signups-first tiebreak must agree.
    Seq((7L, "purchase", 1000L), (7L, "signup", 1000L))
      .toDF("user_id", "event_type", "epoch")
      .coalesce(1).write.mode("append").parquet(feed)
    runStreamUntil(Cdc.funnelStream(spark, feed, out, ckpt))({
      spark.read.parquet(out).count() >= 1
    })
    val r = spark.read.parquet(out)
      .orderBy(col("batch_id").desc).limit(1).collect()(0)
    assert(r.getAs[Long]("signup_t") == 1000L, r.toString)
    assert(r.getAs[Long]("purchase_t") == 1000L, r.toString)
    assert(r.getAs[String]("bucket") == "WITHIN_1H", r.toString)
  }

  test("c5b routes only DROP/TRUNCATE DDL and strips the recycle-bin " +
    "suffix, like the reference's incr filter") {
    val routed = Cdc.c5bDdlRoute(spark, sf).collect()
    assert(routed.nonEmpty)
    val kinds = routed.map(_.getAs[String]("ddl_kind")).toSet
    assert(kinds.subsetOf(Set("DROP TABLE", "TRUNCATE TABLE")),
      s"alter/create leaked through: $kinds")
    routed.foreach { r =>
      val stmt = r.getAs[String]("stmt_norm")
      val kind = r.getAs[String]("ddl_kind")
      if (kind == "DROP TABLE") {
        assert(!stmt.contains("BIN$"), s"recycle-bin suffix kept: $stmt")
        assert(stmt == stmt.toUpperCase, s"drop path must be upper: $stmt")
        assert(r.getAs[String]("table_name").startsWith("MARVIN_"))
      } else {
        assert(stmt.startsWith("truncate table "), stmt)
        assert(r.getAs[String]("table_name").startsWith("marvin_"))
      }
    }
    // the feed renders user_id%4==0 as drop and ==1 as truncate; the
    // router must keep exactly those
    val feed = graft.Tables.load(spark, sf, "events")
      .filter(org.apache.spark.sql.functions.col("event_type") === "signup")
    val nDrop = feed.filter(org.apache.spark.sql.functions
      .col("user_id") % 4 === 0).count()
    val nTrunc = feed.filter(org.apache.spark.sql.functions
      .col("user_id") % 4 === 1).count()
    assert(routed.count(_.getAs[String]("ddl_kind") == "DROP TABLE") == nDrop)
    assert(routed.count(
      _.getAs[String]("ddl_kind") == "TRUNCATE TABLE") == nTrunc)
  }

  test("w12: online sessionization equals the batch operator row for " +
    "row and the watermark sentinel never leaks") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("sess_idx"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_epoch"),
        r.getAs[Long]("end_epoch"), r.getAs[Long]("duration_s"))
    val batch = graft.operators.Relational.w11Sessionize(spark, sf)
      .collect().map(key).toSet
    val streamed = Cdc.w12StreamingSessionize(spark, sf)
      .collect().map(key).toSet
    assert(streamed == batch,
      s"missing=${(batch diff streamed).take(3)} " +
        s"extra=${(streamed diff batch).take(3)}")
    assert(streamed.forall(_._1 >= 0L))
  }

  test("a43: the online drift monitor equals the batch gate and fires " +
    "on a genuinely shifted era") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("col_name"), r.getAs[Long]("n_buckets"),
        r.getAs[Long]("n_base_rows"), r.getAs[Long]("n_cur_rows"),
        r.getAs[Long]("chi2_scaled"), r.getAs[Boolean]("drifted"))
    // streaming arm vs the batch mirror THROUGH the same count plan
    // and gate arithmetic — only the engine differs
    val streamed = Cdc.a43StreamingDrift(spark, sf).collect().map(key).toSet
    val batch = graft.operators.Relational.driftGateFrom(
      Cdc.a43Counts(graft.Tables.load(spark, sf, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("value"))))
      .collect().map(key).toSet
    assert(streamed == batch)
    // a corpus whose eras genuinely differ: baseline all 'view',
    // current all 'error' — the categorical gate must fire
    val tmp = Files.createTempDirectory("graft_a43").toString
    import spark.implicits._
    ((1 to 200).map(i => (i.toLong, "view",
      java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), 10.0)) ++
      (1 to 200).map(i => (200L + i, "error",
        java.sql.Timestamp.valueOf("2024-01-20 00:00:00"), 10.0)))
      .toDF("user_id", "event_type", "ts", "value")
      .withColumn("event_id", col("user_id"))
      .write.parquet(s"$tmp/events.parquet")
    val shifted = Cdc.a43StreamingDrift(spark, tmp).collect()
      .map(r => r.getAs[String]("col_name") ->
        r.getAs[Boolean]("drifted")).toMap
    assert(shifted("event_type"), "categorical era shift must drift")
    assert(!shifted("value"), "identical value dist must not drift")
  }

  test("a46: the online HLL sketch equals the batch sketch register " +
    "for register and estimate") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("col_name"), r.getAs[Long]("n_hit"),
        r.getAs[Long]("sum_scaled"), r.getAs[Long]("est_x1e6"),
        r.getAs[Boolean]("in_range"))
    // streaming arm vs the batch mirror THROUGH the same register
    // plan and estimator arithmetic — only the engine differs
    val streamed = Cdc.a46StreamingHll(spark, sf).collect()
      .map(key).toSet
    val batch = graft.operators.Relational.hllEstimateFrom(
      Cdc.a46Regs(graft.Tables.load(spark, sf, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("value"))))
      .collect().map(key).toSet
    assert(streamed == batch)
    assert(streamed.map(_._1) ==
      Set("events.user_id", "events.event_type"))
    // both cardinalities here sit far below raw HLL's reliable range
    // (5m/2 = 10240), so the arm must SAY so — in_range false is the
    // signal a production monitor switches on
    assert(streamed.forall(!_._5), "small cardinalities must flag")
    // ...and the emitted register table still carries what the
    // small-range correction needs: linear counting over n_hit
    // (m·ln(m/(m−n_hit)), m = 4096 per the a44 geometry) lands
    // within 5% of the exact distinct — the state is sufficient,
    // the estimator choice is downstream
    val ev = graft.Tables.load(spark, sf, "events")
    val exact = Map(
      "events.user_id" ->
        ev.select("user_id").distinct().count(),
      "events.event_type" ->
        ev.select("event_type").distinct().count())
    val m = graft.operators.Relational.HllM.toDouble
    for ((name, nHit, _, _, _) <- streamed) {
      val e = exact(name).toDouble
      val lc = m * math.log(m / (m - nHit))
      assert(math.abs(lc - e) <= math.max(1.0, 0.05 * e),
        s"$name: linear-count $lc vs exact $e (n_hit=$nHit)")
    }
  }

  test("a47: the online quantile sketch equals the batch read-off " +
    "and brackets the exact percentiles within one bucket width") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("col_name"), r.getAs[Long]("q"),
        r.getAs[Long]("bucket"), r.getAs[Long]("est_upper"),
        r.getAs[Long]("n_rows"))
    val streamed = Cdc.a47StreamingQuantiles(spark, sf).collect()
      .map(key).sortBy(k => (k._1, k._2))
    val batch = graft.operators.Relational.histQuantilesFrom(
      Cdc.a47Hist(graft.Tables.load(spark, sf, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("value"))), Cdc.A47Width)
      .collect().map(key).sortBy(k => (k._1, k._2))
    assert(streamed.sameElements(batch))
    // a45's accuracy discipline applied to the online arm: each
    // estimate is the bucket's inclusive upper edge, so it must sit
    // at or above the exact percentile and within one bucket width
    val vals = graft.Tables.load(spark, sf, "events")
      .select(col("value").cast("double")).collect()
      .map(_.getDouble(0)).sorted
    for ((_, q, _, est, nRows) <- streamed) {
      assert(nRows == vals.length.toLong)
      val need = ((q * nRows + 99) / 100).toInt // ceil rank
      val exactQ = vals(need - 1)
      assert(est >= exactQ && est - Cdc.A47Width <= exactQ,
        s"q$q: est_upper=$est vs exact=$exactQ")
    }
  }

  test("a48: the online CMS frequency sketch equals the batch sketch " +
    "row-for-row and keeps the CMS invariants") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("key"), r.getAs[Long]("true_c"),
        r.getAs[Long]("est_c"), r.getAs[Long]("overcount"),
        r.getAs[Boolean]("within_bound"))
    val streamed = Cdc.a48StreamingCms(spark, sf).collect().map(key)
    // the stream's cell table read off through the batch contract
    // must equal the batch sketch exactly: cells merge by addition,
    // so micro-batched accumulation and one-pass aggregation are the
    // same table (the CMS mergeability property, proved end-to-end)
    val batch = graft.operators.Relational
      .a39HeavyHittersCms(spark, sf).collect().map(key)
    assert(streamed.toSet == batch.toSet)
    assert(streamed.length == 10)
    // CMS never undercounts — unconditionally, not probabilistically
    assert(streamed.forall(_._4 >= 0L), "CMS must never undercount")
    // the synthesized hot key (30% of the stream) must be the top
    // heavy hitter and its estimate tight (error ≤ 2N/W ≪ count)
    val hot = streamed.find(_._1 == "hot")
    assert(hot.isDefined, "hot key must surface in the top-10")
    assert(hot.get._2 == streamed.map(_._2).max)
  }
}
