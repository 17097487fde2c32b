package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.functions.Norm
import graft.functions.Norm.{KLong, KStr, NormCol}
import graft.operators.Migrate.ChunkSpec

/** pipe2: the reference's user-facing task-mode pipeline — the mode
  * dispatch in `server/server.go:28-82` run end-to-end as ONE composed
  * flow over the engine's own operators:
  *
  *   catalog snapshot (S5) → assess bounds/count (A3/A4) → reverse DDL
  *   synthesis + artifact (S9, F11) → DDL apply to the JDBC target →
  *   chunk plan + Ledger init (meta-DB checkpoint,
  *   `database/meta/sync_meta_full.go`) → wave-wise chunked migrate
  *   (S1/S2/S7, resumable, `module/migrate/sql/oracle/o2m/full.go:114-331`)
  *   → chunked compare: per-chunk COUNT+checksum fast path (A1/A2) +
  *   row-set symmetric diff slow path (J4) → fix-action synthesis
  *   (`module/compare/oracle/o2m/compare.go:386-444`).
  *
  * Resume contract (the reference's checkpoint triage,
  * `full.go:287-331`): every side effect lives under ONE caller-owned
  * `workDir` (Derby target, parquet Ledger, DDL artifact), so a rerun
  * with the same (workDir, task) replans identically, [[Ledger.pending]]
  * validates the recorded plan, and only unfinished chunks move. A
  * crash BETWEEN a wave's target write and its ledger mark is the
  * hard case — the rerun re-runs that wave, and the wave write is
  * idempotent because each wave DELETEs its own key ranges before
  * inserting (the reference's per-chunk REPLACE INTO gives the same
  * property statement-wise).
  *
  * Scale shape: chunks are processed in waves of `waveSize` — each
  * wave is one distributed ranged write (all its chunk predicates
  * OR-ed, pushed to the scan), so job count is chunks/waveSize, not
  * chunks; resume granularity is one wave. The compare is the same
  * single-shuffle machinery as a2b/j4. Nothing driver-side except the
  * bounded plan/ledger rows — exactly the reference's meta-DB traffic.
  */
object Pipeline {

  val ChunkRows = 1000L
  val WaveSize = 4

  /** Auto-plan cap: at most this many chunks per table. A fixed
    * chunkRows makes the JOB COUNT grow linearly with data (150
    * chunks = ~38 sequential wave writes at sf0.1 — measured 19 s,
    * almost all job latency); a fixed chunk COUNT keeps the pipeline
    * a handful of distributed jobs at any scale, with resume
    * granularity cnt/16 rows — exactly how you'd size it for a
    * 1000-executor cluster (chunks ≈ a small multiple of the write
    * parallelism you want against the target, not of the data).
    */
  val MaxChunks = 16L

  def autoChunkRows(cnt: Long): Long =
    math.max(ChunkRows, (cnt + MaxChunks - 1) / MaxChunks)

  /** Chunk plan with SQL-expressible boundaries: fixed key width
    * `kw = ceil(span / ceil(cnt / chunkRows))`, chunk_id =
    * `(key - minKey) div kw` — the same closed form the DuckDB oracle
    * computes, so engine and oracle agree on chunk membership by
    * construction (planChunks' density split has no integer-exact SQL
    * inverse). One carve-out: the chunk COUNT is capped at
    * [[Migrate.MaxPlannedChunks]], so a chunkRows small enough to ask
    * for >2^20 chunks gets wider chunks than the closed form above —
    * consumers must use the RETURNED kw (as runMigration and pipe2Sql's
    * GREATEST-bounded cr do; pipe2's auto-cap of 16 chunks can never
    * reach the carve-out), never re-derive it from chunkRows.
    */
  def planFixedWidth(minKey: Long, maxKey: Long, cnt: Long,
      chunkRows: Long): (Long, Seq[ChunkSpec]) = {
    require(cnt > 0 && maxKey >= minKey, "empty source — nothing to plan")
    require(chunkRows > 0, "chunkRows must be positive")
    val span = maxKey - minKey + 1
    require(span > 0, s"key span [$minKey, $maxKey] exceeds the Long range")
    // ceil division in remainder form, NOT (a + b - 1) / b: the
    // additive form overflows Long when span/cnt sit near 2^63 —
    // exactly the surrogate-key ranges a 100 TB table can carry
    def ceilDiv(a: Long, b: Long): Long = a / b + (if (a % b == 0) 0L else 1L)
    // chunk-count cap (see Migrate.MaxPlannedChunks): clamping n
    // BEFORE kw keeps the downstream count bounded too — kw >= span/n
    // implies ceilDiv(span, kw) <= n, so nChunks.toInt is exact and
    // the (key - minKey) div kw id formula stays invertible
    val n = math.max(1L,
      math.min(ceilDiv(cnt, chunkRows), Migrate.MaxPlannedChunks))
    val kw = math.max(1L, ceilDiv(span, n))
    val nChunks = ceilDiv(span, kw).toInt
    val chunks = (0 until nChunks).map { i =>
      // non-last uppers satisfy minKey + (i+1)*kw - 1 < maxKey (since
      // (i+1)*kw < span there), so only the last chunk — whose direct
      // upper IS maxKey — could overflow the additive form; hand it
      // maxKey outright
      val hi = if (i == nChunks - 1) maxKey else minKey + (i + 1) * kw - 1
      ChunkSpec(i, minKey + i * kw, hi)
    }
    (kw, chunks)
  }

  /** Target-dialect type for a snapshot (canonical) type under the
    * export projection (P1): integrals stay integral, everything the
    * projection renders to a canonical string lands as VARCHAR — the
    * reference's per-type SELECT-list rendering (`full.go:885-948`)
    * paired with its datatype rule grid (F11/r-grids; this is the
    * o2-Derby column of that grid, the sandbox's stand-in target).
    */
  def derbyTypeFor(canonical: String): String = canonical match {
    case "BIGINT" => "BIGINT"
    case "INT" => "INTEGER"
    case "SMALLINT" => "SMALLINT"
    case "DOUBLE" | "FLOAT" => "VARCHAR(44)" // exported decimal string
    case "TIMESTAMP" => "VARCHAR(19)" // exported yyyy-MM-dd HH:mm:ss
    case _ => "VARCHAR(64)"
  }

  /** End-to-end migration task. `failpoint` is a test seam: invoked
    * with a stage label at every boundary; production callers leave
    * the default no-op. Returns the compare report (one row per
    * non-empty chunk).
    */
  def runMigration(s: SparkSession, d: String, workDir: String,
      task: String, chunkRows: Long = 0L, waveSize: Int = WaveSize,
      failpoint: String => Unit = _ => (),
      where: Option[String] = None,
      consistentRead: Boolean = false): DataFrame = {
    val table = "orders"
    val tgtTable = "ORDERS_PIPE"
    val keyCol = "o_orderkey"
    System.setProperty("derby.system.home", workDir)
    val url = s"jdbc:derby:$workDir/pipedb;create=true"
    val ledgerPath = s"$workDir/ledger"

    // ---- stage 1: catalog snapshot (S5) of the migrated table — its
    // columns in ordinal order drive reverse
    failpoint("snapshot")
    val snapCols = Tables.schemaOf(s, d, table).fields.toSeq
      .map(f => (f.name, Catalog.canonicalType(f.dataType)))

    // ---- stage 2: assess (A3 bounds guard + A4 count) — one agg job
    failpoint("assess")
    // per-table migrate-config range (full.go:698-701): the custom
    // predicate restricts the WHOLE task — assess bounds, chunk plan,
    // export, and the compare all see only the predicated rows.
    // full.consistent-read pins the file LISTING once (the AS OF SCN
    // analogue): a file landing mid-task cannot tear assess/export/
    // compare apart — they all read the pinned set
    val loaded =
      if (consistentRead) {
        val files = graft.sources.Snapshot.pin(s, s"$d/$table.parquet")
        if (files.isEmpty) Tables.load(s, d, table)
        else graft.sources.Snapshot.read(s, files)
      } else Tables.load(s, d, table)
    val src0 = where.foldLeft(loaded)((df, rg) => df.filter(expr(rg)))
    val row = src0.agg(min(keyCol), max(keyCol), count(lit(1))).collect()(0)
    // empty source: min/max are NULL — getLong would throw. The
    // reference treats an empty table as a completed (trivial) task,
    // not an error; the guard below stage 4 returns the empty summary
    // after the target table is still created.
    val cnt = row.getLong(2)
    val (minK, maxK) =
      if (cnt == 0) (0L, 0L) else (row.getLong(0), row.getLong(1))

    // ---- stage 3: reverse — DDL synthesis + artifact (S9, F11).
    // Quoted lower-case identifiers so the JDBC writer's quoted INSERT
    // column list matches what CREATE TABLE declared.
    failpoint("reverse")
    val colDefs = snapCols.map { case (c, t) => s""""$c" ${derbyTypeFor(t)}""" }
    val createSql =
      s"CREATE TABLE $tgtTable (${colDefs.mkString(", ")})"
    graft.reverse.Ddl.writeArtifact(s"$workDir/reverse_$table.sql",
      Seq(createSql + ";"))

    // ---- stage 4: apply DDL to the target (s9c direct-write path);
    // on resume the table already exists (Derby SQLState X0Y32) — keep
    // it, the wave writes are range-idempotent
    failpoint("apply")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(createSql)
      catch {
        case e: java.sql.SQLException if e.getSQLState == "X0Y32" => ()
      } finally st.close()
    } finally conn.close()

    val decSpec = Map("o_totalprice" -> (14, 2))
    val exportDf = src0.select(
      Migrate.exportProjection(src0.schema, decSpec): _*)
    val normCols = Seq(NormCol("o_orderkey", KLong),
      NormCol("o_custkey", KLong), NormCol("o_orderstatus", KStr),
      NormCol("o_totalprice", KStr), NormCol("o_orderdate", KStr),
      NormCol("o_orderpriority", KStr))

    // empty source: target table exists (stage 4), there is nothing
    // to chunk, migrate, or repair — the compare summary is exactly
    // empty, same schema as the populated path
    if (cnt == 0)
      return Compare.chunkSummary(exportDf.limit(0),
          lit(0L).cast("long"), normCols)
        .select(col("chunk_id"), col("n_rows"), col("row_checksum"),
          lit(true).as("matched"), lit(0L).as("n_fix"))

    // ---- stage 5: chunk plan + ledger init / resume triage.
    // chunkRows = 0 (default) auto-sizes to a bounded chunk COUNT
    val cr = if (chunkRows > 0) chunkRows else autoChunkRows(cnt)
    failpoint("plan")
    val (kw, chunks) = planFixedWidth(minK, maxK, cnt, cr)
    val fs = new org.apache.hadoop.fs.Path(ledgerPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // a ledger created here holds exactly this plan, all WAITING: only
    // an existing one needs the resume triage's read-back
    val pending =
      if (fs.exists(new org.apache.hadoop.fs.Path(ledgerPath)))
        Ledger.pending(s, ledgerPath, task, table, chunks)
      else {
        Ledger.init(s, ledgerPath, task, table, chunks)
        chunks
      }

    // ---- stage 6: migrate — one distributed ranged write per wave
    pending.grouped(waveSize).zipWithIndex.foreach { case (wave, wi) =>
      val ids = wave.map(_.id)
      failpoint(s"wave_start:${ids.mkString(",")}")
      // idempotence: a crashed-unmarked wave may have written rows —
      // clear exactly this wave's ranges before inserting (bounded
      // driver-side statements, one per chunk, against empty ranges in
      // the happy path)
      val c2 = java.sql.DriverManager.getConnection(url)
      try {
        val st = c2.createStatement()
        wave.foreach(c => st.executeUpdate(
          s"""DELETE FROM $tgtTable WHERE "$keyCol" BETWEEN ${c.lower} AND ${c.upper}"""))
        st.close()
      } finally c2.close()
      exportDf
        .filter(wave.map(c =>
          col(keyCol).between(c.lower, c.upper)).reduce(_ || _))
        .write.mode(SaveMode.Append).format("jdbc")
        .option("url", url).option("dbtable", tgtTable)
        .option("batchsize", 1000).save()
      failpoint(s"wave_written:${ids.mkString(",")}")
      // wall-clock seq: nanoTime's origin is arbitrary PER JVM, so a
      // cross-process resume could mark with a seq below the first
      // run's — currentTimeMillis orders marks across restarts
      Ledger.mark(s, ledgerPath, task, table, ids, Ledger.Success,
        updateSeq = System.currentTimeMillis())
    }

    // ---- stage 7: compare — fast path per-chunk COUNT+checksum on
    // both sides, slow path symmetric diff → fix actions (all the
    // same single-shuffle operators a2b/j4/c2 register standalone)
    failpoint("compare")
    // `div` (IntegralDivide), NOT `/`: Column `/` on longs is IEEE
    // double division — exact only below 2^53, which 100 TB key
    // ranges exceed. `div` is the exact integer math planFixedWidth
    // and the DuckDB oracle's `//` both use.
    def chunkOf(name: String) =
      expr(s"($name - ${minK}L) div ${kw}L").cast("long")
    // JDBC metadata reports the quoted-lowercase column names, so the
    // read schema matches the source names; Spark quotes the partition
    // column itself (same path s7b exercises)
    // Spool the chunked JDBC read-back ONCE to scratch parquet: both
    // the checksum pass (tgtSum) and the row diff consume the target,
    // and without the spool each consumer re-issues the 8 ranged
    // queries against the database — 2x the most expensive I/O of the
    // compare stage (guide §3.3, materialize the intermediate; r17).
    // A parquet spool, NOT localCheckpoint: the diff unions this
    // frame, and a checkpointed child under unionAll trips the Spark
    // 4.1.2 LogicalRDD constraint-rewrite bug (see FIXTURES.md).
    val backJdbc = Migrate.readJdbcChunked(s, url, tgtTable, keyCol,
      minK, maxK + 1, 8)
    val backSpool = s"${Migrate.tempDir("migrate_back")}/back"
    backJdbc.write.mode(SaveMode.Overwrite).parquet(backSpool)
    val back = s.read.parquet(backSpool)
    // XEngine variant: this stage's row_checksum lands in pipe2's
    // oracle-compared OUTPUT, so it must stay the md5 hash DuckDB
    // reproduces (the internal-compare call sites use the native-hash
    // chunkSummary)
    val srcSum = Compare.chunkSummaryXEngine(exportDf, chunkOf(keyCol),
      normCols)
    val tgtSum = Compare.chunkSummaryXEngine(back, chunkOf(keyCol), normCols)
      .withColumnRenamed("n_rows", "t_rows")
      .withColumnRenamed("row_checksum", "t_checksum")
    val diff = Compare.symmetricDiffCols(exportDf, back, normCols, keyCol)
    val fixes = Compare.fixActions(diff, tgtTable, keyCol, normCols)
    val fixPerChunk = fixes
      .groupBy(chunkOf("row_key").as("chunk_id"))
      .agg(count(lit(1)).as("n_fix_raw"))
    srcSum.join(tgtSum, Seq("chunk_id"), "full_outer")
      .join(fixPerChunk, Seq("chunk_id"), "left_outer")
      .select(col("chunk_id"), col("n_rows"), col("row_checksum"),
        (col("n_rows") <=> col("t_rows") &&
          col("row_checksum") <=> col("t_checksum")).as("matched"),
        coalesce(col("n_fix_raw"), lit(0L)).as("n_fix"))
  }

  // ------------------------------------------------------------- queries

  /** pipe2: the composed pipeline as a registered query. The oracle is
    * the composed PURE computation — per-chunk count+checksum of the
    * export projection with the same closed-form chunk ids, matched
    * TRUE and zero fix actions — so the hash proves snapshot → reverse
    * → apply → migrate → compare lands exactly the state the source
    * defines, end to end through a real JDBC target.
    */
  def pipe2Migration(s: SparkSession, d: String): DataFrame =
    runMigration(s, d, Migrate.scratchDbDir("pipe2"), task = "pipe2-task")

  val pipe2Sql: String = {
    val normCols = Seq(NormCol("o_orderkey", KLong),
      NormCol("o_custkey", KLong), NormCol("o_orderstatus", KStr),
      NormCol("o_totalprice", KStr), NormCol("o_orderdate", KStr),
      NormCol("o_orderpriority", KStr))
    s"""WITH proj AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR) AS o_totalprice,
       |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       |    o_orderpriority
       |  FROM orders),
       |b AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx,
       |             count(*) AS cnt FROM orders),
       |b2 AS (SELECT mn, mx, cnt,
       |  GREATEST($ChunkRows, (cnt + ${MaxChunks - 1}) // $MaxChunks) AS cr
       |  FROM b),
       |b3 AS (SELECT mn, mx, (cnt + cr - 1) // cr AS nch FROM b2),
       |w AS (SELECT mn,
       |  GREATEST(1, ((mx - mn + 1) + nch - 1) // nch) AS kw
       |  FROM b3)
       |SELECT CAST((o_orderkey - mn) // kw AS BIGINT) AS chunk_id,
       |  count(*) AS n_rows,
       |  ${Norm.duckRowChecksum(normCols)} AS row_checksum,
       |  TRUE AS matched,
       |  CAST(0 AS BIGINT) AS n_fix
       |FROM proj, w
       |GROUP BY 1""".stripMargin
  }

  /** Bind-variable batched full load (the reference's F10 path:
    * prepared multi-row bind batches, `translate.go:34-145`): ONE
    * PreparedStatement per partition, `addBatch` per row, flushed
    * every 1000 — an order of magnitude cheaper per row than the
    * guarded MERGE, which a freshly-created empty target doesn't
    * need. Partitions write concurrently over bounded connections.
    */
  private def bulkLoadState(df: DataFrame, url: String,
      table: String): Unit =
    df.coalesce(graft.streaming.Cdc.sinkConnections(url)).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val ps = conn.prepareStatement(
            s"INSERT INTO $table VALUES (?, ?, ?, ?)")
          var pending = 0
          rows.foreach { r =>
            ps.setLong(1, r.getLong(0))
            ps.setLong(2, r.getLong(1))
            ps.setLong(3, r.getLong(2))
            if (r.isNullAt(3)) ps.setNull(4, java.sql.Types.DOUBLE)
            else ps.setDouble(4, r.getDouble(3))
            ps.addBatch()
            pending += 1
            if (pending >= graft.streaming.Cdc.JdbcFlushEvery) {
              ps.executeBatch(); pending = 0
            }
          }
          if (pending > 0) ps.executeBatch()
          conn.commit()
          ps.close()
        } finally conn.close()
    }

  /** pipe3: the reference's `all` task mode — full load THEN
    * incremental CDC apply (`module/migrate/sql/oracle/o2m/incr.go:61`,
    * dispatched after the full phase). The full phase bulk-loads the
    * base snapshot as scn-0 rows through bind-variable batches (the
    * reference's REPLACE-batch full path — a fresh empty target needs
    * no guard); the incremental phase applies the change feed through
    * the guarded MERGE sink, whose (scn,seq) staleness guard is what
    * makes the combined state exact under replay. The base rows carry
    * scn -1, strictly before every feed change (the feed CAN emit
    * (0,0): event_id 0 maps there — a (0,0) base would tie, and the
    * engine's MERGE guard and the oracle's op-DESC tie-break resolve
    * ties differently), so last-writer-wins over base ∪ changes IS the final
    * target state — which the oracle computes purely, while the
    * engine path goes through a real JDBC target and back.
    */
  def pipe3FullPlusIncr(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.Cdc
    val dbDir = Migrate.scratchDbDir("pipe3_derby")
    val url = s"jdbc:derby:$dbDir/alldb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE ALL_STATE (k BIGINT PRIMARY KEY, " +
        "scn BIGINT, seq BIGINT, v DOUBLE)")
      st.close()
    } finally conn.close()
    // base marker is scn -1, NOT (0,0): the feed's scn = event_id/8
    // and event_id 0 exists, so a change CAN carry (0,0) — a base at
    // (0,0) would tie with it, and the engine's MERGE guard and the
    // oracle's op-DESC tie-break resolve ties differently. scn -1
    // orders strictly before every change in both engines.
    val base = Tables.load(s, d, "customer").select(
      col("c_custkey").cast("long").as("k"),
      lit(-1L).as("scn"), lit(0L).as("seq"),
      col("c_acctbal").as("v"))
    bulkLoadState(base, url, "ALL_STATE") // full phase, F10 bind batches
    Cdc.applyBatchJdbc(Cdc.eventsAsChanges(s, d), url, "ALL_STATE") // incr
    s.read.format("jdbc").option("url", url)
      .option("dbtable", "ALL_STATE").load()
      .select(col("k").as("key"), col("scn"), col("seq"),
        col("v").as("value"))
  }

  val pipe3Sql: String = {
    import graft.streaming.Cdc
    val baseSql =
      """SELECT CAST(-1 AS BIGINT) AS scn, CAST(0 AS BIGINT) AS seq,
        |  'INSERT' AS op, 'events' AS table_name,
        |  CAST(c_custkey AS BIGINT) AS key, c_acctbal AS value
        |FROM customer""".stripMargin
    s"""SELECT key, scn, seq, value FROM (
       |${Cdc.applyChangesSql(s"$baseSql UNION ALL ${Cdc.eventsAsChangesSql}")}
       |) f""".stripMargin
  }

  /** The audit half of pipe14: data-quality gates evaluated over the
    * snapshot AS STAGED ON DISK against the published baseline — the
    * "A" of write-audit-publish. Four gates, one report row each:
    * row-count ratio within [0.5, 2.0]× of published (a half-empty or
    * doubled snapshot is an upstream bug, not growth), zero NULL/empty
    * text payloads, exact-duplicate rate ≤ 5% (d1's canonical
    * fingerprint), and per-language share drift (total variation
    * distance over 10⁶-scaled shares) ≤ 10%. All values integer-exact
    * by the a40 discipline: exact counts, short IEEE-exact mul/div
    * chains on them, floors to BIGINT, reported ×10⁶. Every gate is a
    * bounded
    * aggregate — at 100 TB this is two scans (published side served
    * from manifest stats in a real deployment) ending in a 4-row
    * report.
    */
  private[graft] def wapAudit(published: DataFrame,
      staged: DataFrame): DataFrame = {
    // nfp fingerprints only rows with a payload: md5(NULL) is NULL
    // (silently dropped by countDistinct), so fingerprinting the full
    // frame would charge every NULL/empty row to dup_rate on top of
    // null_text. Each gate owns its failure class: null_text counts
    // the empty payloads, dup_rate measures duplication AMONG the
    // real payloads (denominator n2 - nnull below).
    val totals = staged.agg(count(lit(1)).as("n2"),
        sum(when(!wapHasText, 1L).otherwise(0L)).as("nnull"),
        countDistinct(when(wapHasText, wapFp)).as("nfp"))
      .crossJoin(published.agg(count(lit(1)).as("n1")))
    val langs = published.groupBy("lang").agg(count(lit(1)).as("c1"))
      .join(staged.groupBy("lang").agg(count(lit(1)).as("c2")),
        Seq("lang"), "full_outer")
      .select(coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
    wapGates(totals, langs)
  }

  /** The gate arithmetic over the already-aggregated relations:
    * `totals` = ONE row (n1, n2, nnull, nfp), `langs` = one row per
    * language (c1, c2). Split from [[wapAudit]] so a caller that can
    * COMPOSE those aggregates from persisted publish-time stats plus
    * shard-side aggregates (pipe15's admission — the published
    * corpus is never rescanned) runs the SAME arithmetic as the
    * full-scan audit.
    */
  private[graft] def wapGates(totals: DataFrame,
      langs: DataFrame): DataFrame = {
    // n1/n2 ride into the TVD as columns: one bounded crossJoin of
    // the single-row totals onto the O(langs) share relation. TVD is
    // computed over per-side SHARES floor-scaled to 10⁶ FIRST (each
    // c·10⁶ stays within int64 for counts below ~9·10¹², where the
    // raw cross-product c1·n2 would overflow past ~10⁹ rows — the
    // d17 int64-wrap class); the per-language floor costs < #langs
    // ppm against a 10% gate.
    val withTotals = langs
      .crossJoin(totals.select(col("n1").as("n1t"), col("n2").as("n2t")))
      .agg(coalesce(sum(abs(
        when(col("n1t") =!= 0L,
          floor(col("c1") * lit(1000000L) / col("n1t"))).otherwise(0L) -
        when(col("n2t") =!= 0L,
          floor(col("c2") * lit(1000000L) / col("n2t"))).otherwise(0L))),
        lit(0L)).as("term"))
    // zero-denominator guard: unlike the per-row divisions everywhere
    // else (which simply never evaluate on empty input), these run
    // over AGGREGATE rows that exist even for an empty snapshot, and
    // Spark 4's ANSI mode throws DIVIDE_BY_ZERO even for doubles. A
    // NULL value fails the gate below — an empty/absent side is a
    // hold, never a publish.
    def scaled(num: Column, den: Column): Column =
      when(den =!= 0L,
        floor(num.cast("double") * lit(1000000.0) / den.cast("double"))
          .cast("long"))
    // zero-tolerance gates use CEIL: a floored rate would round up to
    // n2/10⁶ bad payloads down to a passing 0 (review finding — 9
    // NULL texts in 10M rows passed the "zero NULLs" gate)
    def scaledCeil(num: Column, den: Column): Column =
      when(den =!= 0L,
        ceil(num.cast("double") * lit(1000000.0) / den.cast("double"))
          .cast("long"))
    val all = totals.crossJoin(withTotals)
    def gate(name: String, value: Column, lo: Long, hi: Long): DataFrame =
      all.select(lit(name).as("gate"), value.as("value_x1e6"),
        lit(lo).as("lo_x1e6"), lit(hi).as("hi_x1e6"))
        .withColumn("pass",
          coalesce(col("value_x1e6").between(lo, hi), lit(false)))
    gate("rows_ratio", scaled(col("n2"), col("n1")), 500000L, 2000000L)
      .unionAll(gate("null_text", scaledCeil(col("nnull"), col("n2")),
        0L, 0L))
      .unionAll(gate("dup_rate",
        scaled(col("n2") - col("nnull") - col("nfp"),
          col("n2") - col("nnull")), 0L, 50000L))
      .unionAll(gate("lang_tvd", scaled(col("term"), lit(2000000L)),
        0L, 100000L))
  }

  /** pipe14: write-audit-publish snapshot promotion — the production
    * discipline between "the curation job finished" and "training
    * reads the new snapshot": the candidate is STAGED to its own path,
    * audited from the staged FILES (what was actually written, not
    * what the job meant to write), and only a full-pass audit appends
    * the manifest row that makes it the published version — readers
    * resolve the manifest pointer (s17's mechanism) and never see a
    * failed candidate. Published baseline = the prior snapshot (80%
    * of docs, doc_id % 5 ≠ 4); candidate = the full corpus. The
    * report is the audit plus the resulting published version, so the
    * hash gate pins gate arithmetic AND the promote/hold decision.
    * The only driver-side step is collecting the 4-row audit — the
    * same bounded planning collect every table format performs.
    */
  def pipe14WapPublish(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = Migrate.tempDir("pipe14")
    val docs = Tables.load(s, d, "documents")
    docs.filter(col("doc_id") % 5 =!= 4)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/data/v1")
    Seq((1L, s"$root/data/v1")).toDF("version", "path")
      .write.mode(SaveMode.Append).parquet(s"$root/manifest")
    docs.write.mode(SaveMode.Overwrite).parquet(s"$root/stage/v2") // stage
    val audit = wapAudit(
      s.read.parquet(s"$root/data/v1"),
      s.read.parquet(s"$root/stage/v2"))
    val rows = audit.collect()
    val allPass = rows.nonEmpty && rows.forall(_.getAs[Boolean]("pass"))
    if (allPass) // publish = ONE manifest append; data files move never
      Seq((2L, s"$root/stage/v2")).toDF("version", "path")
        .write.mode(SaveMode.Append).parquet(s"$root/manifest")
    val version = s.read.parquet(s"$root/manifest")
      .agg(max(col("version"))).head.getLong(0)
    // return the rows already collected for the gate decision — a
    // lazy `audit` here would re-run both corpus scans (incl. the
    // countDistinct) when the caller evaluates the frame
    s.createDataFrame(java.util.Arrays.asList(rows: _*), audit.schema)
      .unionAll(
        Seq(("published_version", version, version, version, allPass))
          .toDF("gate", "value_x1e6", "lo_x1e6", "hi_x1e6", "pass"))
  }

  /** The audit-gate CTE chain (`t`..`g2`) over CTEs `v1`
    * (published) and `v2` (staged candidate) — the SQL mirror of
    * [[wapAudit]], shared by pipe14's full-snapshot oracle and
    * pipe15's incremental-admission oracle. Raw SQL text (no margin
    * chars); the caller supplies v1/v2 and the final SELECT.
    */
  private val wapGatesChainSql: String =
    """t AS (SELECT
      |  (SELECT count(*) FROM v1) AS n1,
      |  (SELECT count(*) FROM v2) AS n2,
      |  (SELECT count(*) FROM v2
      |   WHERE text IS NULL OR length(text) = 0) AS nnull,
      |  (SELECT count(DISTINCT md5(lower(
      |     regexp_replace(text, '\s+', ' ', 'g')))) FROM v2
      |   WHERE text IS NOT NULL AND length(text) > 0) AS nfp),
      |l AS (SELECT coalesce(a.c1, 0) AS c1, coalesce(b.c2, 0) AS c2
      |      FROM (SELECT lang, count(*) AS c1 FROM v1 GROUP BY 1) a
      |      FULL OUTER JOIN
      |           (SELECT lang, count(*) AS c2 FROM v2 GROUP BY 1) b
      |      USING (lang)),
      |tv AS (SELECT coalesce(sum(abs(
      |         CAST(floor(c1 * 1000000 / (SELECT n1 FROM t)) AS BIGINT) -
      |         CAST(floor(c2 * 1000000 / (SELECT n2 FROM t)) AS BIGINT))),
      |         0) AS term FROM l),
      |gates AS (
      |  SELECT 'rows_ratio' AS gate,
      |    CAST(floor(CAST(n2 AS DOUBLE) * 1000000.0 /
      |      CAST(n1 AS DOUBLE)) AS BIGINT) AS value_x1e6,
      |    CAST(500000 AS BIGINT) AS lo_x1e6,
      |    CAST(2000000 AS BIGINT) AS hi_x1e6 FROM t
      |  UNION ALL
      |  SELECT 'null_text',
      |    CAST(ceil(CAST(nnull AS DOUBLE) * 1000000.0 /
      |      CAST(n2 AS DOUBLE)) AS BIGINT), 0, 0 FROM t
      |  UNION ALL
      |  SELECT 'dup_rate',
      |    CASE WHEN n2 - nnull = 0 THEN NULL ELSE
      |      CAST(floor(CAST(n2 - nnull - nfp AS DOUBLE) * 1000000.0 /
      |        CAST(n2 - nnull AS DOUBLE)) AS BIGINT) END, 0, 50000 FROM t
      |  UNION ALL
      |  SELECT 'lang_tvd',
      |    CAST(floor(CAST(term AS DOUBLE) * 1000000.0 /
      |      2000000.0) AS BIGINT), 0, 100000
      |  FROM tv),
      |g2 AS (SELECT gate, value_x1e6, lo_x1e6, hi_x1e6,
      |         coalesce(value_x1e6 BETWEEN lo_x1e6 AND hi_x1e6,
      |                  FALSE) AS pass
      |       FROM gates)"""
      .stripMargin

  val pipe14Sql: String =
    s"""WITH v1 AS (SELECT * FROM documents WHERE doc_id % 5 <> 4),
       |v2 AS (SELECT * FROM documents),
       |$wapGatesChainSql
       |SELECT * FROM g2
       |UNION ALL
       |SELECT 'published_version',
       |  CASE WHEN (SELECT bool_and(pass) FROM g2) THEN 2 ELSE 1 END,
       |  CASE WHEN (SELECT bool_and(pass) FROM g2) THEN 2 ELSE 1 END,
       |  CASE WHEN (SELECT bool_and(pass) FROM g2) THEN 2 ELSE 1 END,
       |  (SELECT bool_and(pass) FROM g2)""".stripMargin

  /** pipe15: INCREMENTAL write-audit-publish — the loop a production
    * corpus actually lives in once pipe14 has published its first
    * snapshot: a new shard arrives, is deduplicated AGAINST THE
    * PUBLISHED SNAPSHOT (d8's shard-vs-index shape: one fingerprint
    * anti-join, never a corpus re-mine) and within itself (first doc
    * per fingerprint), the surviving docs are staged METADATA-ONLY —
    * only the admitted shard rows are written; the staged snapshot is
    * the manifest-level pair (published v1 files, admitted files), so
    * the published corpus is never rewritten (pipe14's "data files
    * move never" principle, applied to staging too — at 100 TB the
    * old design's published ∪ admitted stage write was a corpus
    * rewrite per arriving shard). The staged candidate is audited
    * against the published baseline with the SAME gate arithmetic as
    * pipe14 ([[wapGates]], fed by publish-time stats composed with
    * shard-side aggregates — the published corpus is never
    * rescanned), and only a full pass appends the manifest rows that
    * make (v1 files + admitted files) the published v2. The report carries the audit,
    * the admission accounting (admitted vs rejected-duplicate counts
    * — the rows a data-curation runbook asks for first), and the
    * resulting published version, so the hash gate pins dedup, gates,
    * and the promote decision together. Null/empty-text shard rows
    * carry no fingerprint and are NOT duplicates of anything — they
    * bypass the dedup path and flow to staging whole, so the
    * null_text gate judges the full poisoned shard instead of
    * rejected_dup silently absorbing it. At 100 TB: the fingerprint
    * index and audit stats are persisted alongside the snapshot at
    * publish time (d8/d19's at-rest discipline); admission costs one
    * index-vs-shard anti-join, one shard-sized write, and bounded
    * stat composition — the published bytes are neither rewritten
    * nor read. The loop CLOSES the same way ([[admitShard]] with
    * `closeLoop = true`): a passing publish appends the admitted
    * fingerprints to the index as a delta shard (d19's incremental
    * band-index pattern), the admitted aggregates to the stats
    * (additive — every delta's fingerprints are new), and re-stamped
    * paths to the manifest, so the NEXT shard admits against the new
    * version with the same metadata-only cost; the spec drives two
    * consecutive increments through it.
    */
  /** The publish-v1 half, split on a caller-owned root so the spec
    * can snapshot the published files between phases and assert
    * staging never touches them (the s19 file-contract pattern).
    * Publishing persists, NEXT TO the snapshot (d8/d19's at-rest
    * discipline, one extra pass amortized into the publish that
    * already wrote the corpus): the fingerprint INDEX (one distinct
    * fp per non-empty payload — what admission anti-joins against)
    * and the audit STATS (one totals row + one row per language —
    * what the incremental audit's published side reads instead of
    * rescanning the corpus).
    */
  private val wapFp: Column =
    md5(lower(regexp_replace(col("text"), "\\s+", " ")))
  private val wapHasText: Column =
    col("text").isNotNull && length(col("text")) > 0

  /** Every at-rest relation is APPEND-ONLY so the loop closes
    * metadata-only: `index/fp` accumulates one fingerprint DELTA per
    * publish (v1's distinct set, then each admission's new fps —
    * d19's incremental band-index pattern), `stats/totals` and
    * `stats/lang` accumulate one increment's aggregates per publish
    * (the published side of any later audit is their SUM — additive
    * because every delta's fingerprints are new by the anti-join and
    * counts just add), and the manifest re-stamps the prior
    * version's paths plus the new one.
    */
  private[graft] def pipe15PublishV1(s: SparkSession, d: String,
      root: String): Unit =
    publishBaseV1(s,
      Tables.load(s, d, "documents").filter(col("doc_id") % 5 =!= 4), root)

  /** The v1 publish on a caller-chosen base corpus — pipe15/16/18 use
    * the 4/5 slice; pipe19's streaming loop publishes the 3/5 slice
    * and lets the rest arrive as shards.
    */
  private[graft] def publishBaseV1(s: SparkSession, base: DataFrame,
      root: String): Unit = {
    // guard BEFORE the landing write: a double publish must be
    // rejected before any file is touched — data/v1 is referenced by
    // the live manifest, and Overwrite would tear it for readers
    // mid-resolve even though publishV1Meta's own guard fires later
    requireUnpublished(s, root)
    base.write.mode(SaveMode.Overwrite).parquet(s"$root/data/v1")
    publishV1Meta(s, s"$root/data/v1", root)
  }

  /** Publish v1 as a manifest REFERENCE to an already-landed path —
    * the index/stats/manifest writes without the data copy. The
    * manifest-pointer model means even the first publish is
    * metadata-only when the corpus already sits in a read-only
    * landing dir (pipe19's case); [[publishBaseV1]] is this plus the
    * landing write.
    */
  /** Fail-fast double-publish guard: every at-rest relation in the
    * v1 publish is APPEND-mode, so a second publish on the same root
    * would not error — it would silently DOUBLE every stat and
    * fingerprint delta and poison all subsequent composed audits. A
    * root is published at most once; increments go through
    * [[admitShard]].
    */
  private def requireUnpublished(s: SparkSession, root: String): Unit = {
    val mPath = new org.apache.hadoop.fs.Path(s"$root/manifest")
    // no caller name in the message: this guard fires on BOTH publish
    // paths (publishBaseV1 and pipe19's publishV1Meta) — a hardcoded
    // "pipe15PublishV1:" prefix misdiagnosed a streaming-admission
    // double publish as a pipe15 one
    require(!mPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(mPath),
      s"publish v1: $root already holds a manifest — publishing " +
        "v1 twice would double-count the append-only index and stats; " +
        "admit increments via admitShard instead")
  }

  private[graft] def publishV1Meta(s: SparkSession, basePath: String,
      root: String): Unit = {
    requireUnpublished(s, root) // cheap fast-fail before any job runs
    val published = s.read.parquet(basePath)
    // The v1 index/stats land INSIDE the locked commit, AFTER the
    // no-manifest validation: a racing first publish's loser blocks
    // on the lock, fails the validation, and never touches the
    // winner's at-rest meta (unlocked, the loser's Overwrite could
    // clobber the winner's index/stats after the winner committed —
    // manifest from one writer, meta from the other). This is the
    // one commit that holds the lock for data-sized work: once per
    // root, and the alternative (stage + publish-by-reference) would
    // tax every index/stats reader for a once-per-root event.
    //
    // v1 deltas are written OVERWRITE (the rest of the loop appends):
    // a publish that died between a stats write and the manifest
    // append released the lock with NO manifest — the retry passes
    // the validation again and Overwrite makes it idempotent instead
    // of double-appending the v1 deltas.
    commitManifest(s, root, Seq((1L, basePath)), expectedTip = None,
      who = "publishV1Meta", underLock = () => {
        published.filter(wapHasText).select(wapFp.as("fp"))
          .distinct().withColumn("version", lit(1L))
          .write.mode(SaveMode.Overwrite).parquet(s"$root/index/fp")
        // coalesce the empty-corpus aggregates: sum over zero rows is
        // NULL, and a NULL stat would silently poison every composed
        // gate downstream instead of holding on rows_ratio's
        // 0-denominator
        published.agg(count(lit(1)).as("n"),
            coalesce(sum(when(!wapHasText, 1L).otherwise(0L)), lit(0L))
              .as("nnull"),
            countDistinct(when(wapHasText, wapFp)).as("nfp"))
          .withColumn("version", lit(1L))
          .write.mode(SaveMode.Overwrite).parquet(s"$root/stats/totals")
        published.groupBy("lang").agg(count(lit(1)).as("c"))
          .withColumn("version", lit(1L))
          .write.mode(SaveMode.Overwrite).parquet(s"$root/stats/lang")
      })
  }

  /** Serialized, validated manifest append — the WAP loop's COMMIT
    * point. Writers are optimistic: all staging work (landing
    * writes, compaction rewrites, audit passes) runs against the tip
    * each writer observed with no coordination; the commit
    * re-validates UNDER A LOCK that the tip has not moved since, so
    * of two writers racing to publish the same next version exactly
    * one appends and the loser gets a commit-conflict error with its
    * staged files unreferenced by the manifest (Iceberg's
    * commit-conflict semantics re-expressed on a file manifest — the
    * production failure mode a compaction racing a streaming
    * admission hits). The lock is an atomic exclusive file create,
    * DERIVED FROM THE SAME FILESYSTEM AS THE MANIFEST: a schemeless
    * or file:// root uses java.nio O_EXCL (truly atomic on POSIX);
    * any other scheme goes through the Hadoop
    * `FileSystem.create(path, overwrite = false)` so an hdfs:// root
    * keeps real mutual exclusion instead of silently creating a
    * driver-local lock file (an object-store deployment swaps this
    * one seam for the catalog's compare-and-swap). A holder that
    * crashed between create and its finally leaves a lock whose
    * mtime stops advancing — waiters BREAK a lock older than
    * [[LockStaleMs]] instead of timing out forever on a dead root.
    * The lock is held only for the bounded validate + append (plus
    * `underLock`, the first publish's once-per-root meta writes),
    * never for staging work.
    */
  /** `expectedTip = None` is the FIRST publish: the commit validates
    * that no manifest exists yet (closing the check-then-act window
    * in [[requireUnpublished]] — two racing v1 publishes would both
    * pass the unlocked guard, and the append-only relations would
    * silently double).
    */
  /** A commit lock whose mtime is older than this is a crashed
    * holder — waiters break it. A LIVE holder's lock never goes
    * stale regardless of how long its commit runs (the first
    * publish's meta writes are data-sized): a daemon heartbeat
    * refreshes the lock mtime every [[LockHeartbeatMs]] while held,
    * so mtime silence past this threshold really does mean the
    * holder's JVM is gone.
    */
  private[graft] val LockStaleMs: Long = 10L * 60 * 1000
  private[graft] val LockHeartbeatMs: Long = 30L * 1000

  /** How long an acquirer waits before giving up. Sized WELL past
    * [[LockStaleMs]], never in seconds: a LIVE holder may
    * legitimately hold for a data-sized `underLock` write (the first
    * publish's index/stats), and a short deadline would fail every
    * conflict-FREE commit that merely arrived during one — admitShard
    * would then delete its fully-staged shard over a non-conflict. A
    * CRASHED holder is broken at LockStaleMs, so 2× bounds the wait
    * through one dead holder plus one full live hold.
    */
  private[graft] val LockWaitMs: Long = 2 * LockStaleMs

  private lazy val lockLog =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Pipeline")

  /** Run `body` holding the root's commit lock — the mutual
    * exclusion shared by every manifest COMMIT ([[commitManifest]])
    * and by [[expireVersions]]'s decide+tombstone critical section
    * (a vacuum that ran unserialized could expire a version a parked
    * rollback was about to re-stamp; under the shared lock the
    * rollback's own locked re-check sees the tombstone).
    *
    * The local-vs-remote branch keys on the RESOLVED FileSystem, not
    * on the raw URI scheme: a SCHEMELESS root follows
    * `fs.defaultFS` for every Spark/Hadoop read and write, so on a
    * cluster with `defaultFS=hdfs://` the manifest lives on HDFS —
    * a driver-local java.nio lock there would be no mutual exclusion
    * between drivers at all, and its heartbeat/release would no-op
    * against the real path.
    */
  private[graft] def withCommitLock[T](s: SparkSession, root: String,
      who: String)(body: => T): T = {
    val lockHPath =
      new org.apache.hadoop.fs.Path(s"$root/manifest.commit.lock")
    val fs = lockHPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val isLocalFs =
      fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
        fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    // the holder's identity, written INTO the lock file: release
    // deletes the lock only if it still carries this token, so a
    // holder that was (correctly or incorrectly) stale-broken can
    // never blind-delete its SUCCESSOR's fresh lock on the way out —
    // the residual two-holder re-opening a review found in the
    // heartbeat-refresh-unsupported scenario. The atomic operation
    // is still the CREATE; the token lands before the acquirer
    // proceeds, and a breaker that reads a mid-write empty token
    // only ever errs toward NOT deleting.
    val ownerToken = java.util.UUID.randomUUID().toString
    def tryCreate(p: org.apache.hadoop.fs.Path): Boolean =
      if (isLocalFs)
        // local root: java.nio O_EXCL — atomic where Hadoop's local
        // create(overwrite=false) is only check-then-act
        try {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(
              fs.makeQualified(p).toUri.getPath),
            ownerToken.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      else
        // remote root: the manifest's own FileSystem — atomic on
        // HDFS; the documented CAS seam on an object store
        try {
          val out = fs.create(p, false)
          try out.write(ownerToken.getBytes("UTF-8"))
          finally out.close()
          true
        }
        catch { case _: java.io.IOException => false }
    def tryAcquire(): Boolean = tryCreate(lockHPath)
    def lockOwner(p: org.apache.hadoop.fs.Path): String =
      try {
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](64)
          val n = in.read(buf)
          new String(buf, 0, math.max(n, 0), "UTF-8")
        } finally in.close()
      } catch { case _: java.io.IOException => "" }
    // Breaking a stale lock is serialized through a BREAKER MUTEX
    // (manifest.commit.lock.breaking, same atomic CREATE_NEW as the
    // lock itself), then RENAME-then-delete — never a blind delete.
    // History: the blind delete let waiter B break + re-acquire
    // inside waiter A's check-to-delete window (A then deleted B's
    // FRESH lock — two holders); the r16 rename-then-mtime-recheck
    // closed THAT, but the 4-waiter race spec caught its residue
    // under load: breaker C, acting on a stale status observation,
    // renames away the FRESH lock a successor B just created, and
    // while C is renaming it back waiter D acquires the briefly-free
    // path — B and D hold together. Serialized breaking closes the
    // window structurally: the stale re-check happens INSIDE the
    // mutex, where no other breaker can delete/rename the lock file,
    // and an acquirer can only CREATE when the path is absent — so a
    // lock that re-reads stale under the mutex is necessarily the
    // dead incarnation, and the rename claims exactly it. No
    // rename-back branch remains to open the window. A CRASHED
    // breaker's mutex file is itself reaped past LockStaleMs (a
    // break is a millisecond metadata op, so 10 minutes of silence
    // means a dead JVM); a liveness error there only DELAYS breaking
    // — it can never admit a second holder. Release-by-owner (below)
    // still bounds the one theft this cannot close: a live holder
    // whose heartbeat thread died reads stale and is legitimately
    // broken.
    val breakerPath = new org.apache.hadoop.fs.Path(
      s"$root/manifest.commit.lock.breaking")
    def breakIfStale(): Unit =
      try {
        val st = fs.getFileStatus(lockHPath)
        if (System.currentTimeMillis() - st.getModificationTime >
            LockStaleMs) {
          if (tryCreate(breakerPath))
            try {
              val st2 = fs.getFileStatus(lockHPath)
              if (System.currentTimeMillis() - st2.getModificationTime >
                  LockStaleMs) {
                val broken = new org.apache.hadoop.fs.Path(
                  s"$root/manifest.commit.lock.broken." + java.util.UUID
                    .randomUUID().toString.replace("-", "").take(12))
                if (fs.rename(lockHPath, broken)) {
                  fs.delete(broken, false); ()
                }
              }
            } finally { fs.delete(breakerPath, false); () }
          else
            try {
              val bst = fs.getFileStatus(breakerPath)
              if (System.currentTimeMillis() - bst.getModificationTime >
                  LockStaleMs) { fs.delete(breakerPath, false); () }
            } catch { case _: java.io.FileNotFoundException => () }
        }
      } catch { case _: java.io.FileNotFoundException => () }
    val deadline = System.nanoTime() + LockWaitMs * 1000000L
    var held = false
    while (!held)
      if (tryAcquire()) held = true
      else {
        breakIfStale()
        require(System.nanoTime() < deadline,
          s"$who: timed out waiting for the manifest commit lock")
        Thread.sleep(10)
      }
    // heartbeat: keep the held lock's mtime fresh so a slow-but-live
    // commit (the first publish's meta writes) is never broken as
    // stale by a waiter; exits on interrupt. A NonFatal refresh
    // failure must NOT kill the daemon (an fs whose setTimes is
    // unsupported — common in object-store connectors — would
    // otherwise silently downgrade the stale-break safety story to
    // "any hold past LockStaleMs gets broken"): warn once, keep
    // trying.
    val heartbeat = new Thread(() => {
      var warned = false
      try while (true) {
        Thread.sleep(LockHeartbeatMs)
        try fs.setTimes(lockHPath, System.currentTimeMillis(), -1)
        catch {
          // the lock is already gone — release beat this tick; the
          // interrupt lands next sleep. Not a refresh failure.
          case _: java.io.FileNotFoundException => ()
          case scala.util.control.NonFatal(e) =>
            if (!warned) {
              warned = true
              lockLog.warn(s"$who: commit-lock heartbeat refresh " +
                s"failed (${e.getClass.getSimpleName}: " +
                s"${e.getMessage}) — a waiter may stale-break this " +
                s"holder after ${LockStaleMs / 60000} min")
            }
        }
      } catch { case _: InterruptedException => () }
    })
    heartbeat.setDaemon(true)
    heartbeat.start()
    try body
    finally {
      heartbeat.interrupt()
      // release-by-owner: delete only OUR lock incarnation. If this
      // holder was stale-broken mid-commit (heartbeat refresh
      // unsupported and the hold outran LockStaleMs), the file at
      // the path is a successor's — leave it alone.
      try {
        if (lockOwner(lockHPath) == ownerToken) { fs.delete(lockHPath, false); () }
        else lockLog.warn(s"$who: lock no longer held at release " +
          "(stale-broken mid-commit?) — leaving the successor's lock")
      }
      catch { case _: java.io.IOException => () }
    }
  }

  private[graft] def commitManifest(s: SparkSession, root: String,
      rows: Seq[(Long, String)], expectedTip: Option[Long],
      who: String, underLock: () => Unit = () => ()): Unit = {
    import s.implicits._
    withCommitLock(s, root, who) {
      val mPath = new org.apache.hadoop.fs.Path(s"$root/manifest")
      val exists = mPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(mPath)
      expectedTip match {
        case None =>
          require(!exists,
            s"$who: commit conflict — another writer published this " +
              "root's first manifest version while this one staged")
        case Some(expected) =>
          require(exists, s"$who: $root has no published manifest")
          val tip = s.read.parquet(s"$root/manifest")
            .agg(max(col("version"))).head.getLong(0)
          require(tip == expected,
            s"$who: commit conflict — the manifest tip moved from " +
              s"$expected to $tip while this writer staged (another " +
              "writer published); re-stage against the new tip")
      }
      underLock() // first publish's meta writes — see publishV1Meta
      rows.toDF("version", "path")
        .write.mode(SaveMode.Append).parquet(s"$root/manifest")
    }
  }

  /** Admit ONE arriving shard against an already-published root.
    * Touches ONLY (fingerprint index, publish-time stats, the
    * shard) — never the published data files: the staged audit's
    * aggregates COMPOSE exactly. n2 = n1 + |admitted|; nnull =
    * nnull1 + admitted nulls; nfp = nfp1 + |admitted non-null|
    * (every admitted non-null row carries a fingerprint that is NOT
    * in the published index — the anti-join — and is the first of
    * its fingerprint within the shard — the rn = 1 window — so
    * admitted fingerprints are new and pairwise distinct by
    * construction); per-language c2 = c1 + admitted count. The
    * composed relations feed the SAME [[wapGates]] arithmetic as the
    * full-scan audit, and the spec proves the equivalence by running
    * admission with the published data files REMOVED.
    *
    * `closeLoop = true` is the production mode: a passing publish
    * ALSO appends the admitted fingerprints to the index (a delta
    * shard), the admitted aggregates to the stats, and the
    * re-stamped paths to the manifest — so the NEXT shard admits
    * against the new version, still metadata-only (the spec drives
    * two increments through this). The registered query replays the
    * FIRST increment with `closeLoop = false` and the base version
    * pinned, because the bench re-samples queries and a feedback
    * append would make the second sample admit against its own
    * output; the report rows are identical either way (the deltas
    * are written after the audit is collected).
    *
    * `atVersion` pinning is real, not just replay detection: every
    * index/stats delta is stamped with the version that published it
    * and every read here filters `version <= prevV`, so admitting
    * pinned-to-v on a root whose loop has since closed past v still
    * composes against exactly v's at-rest state.
    */
  private[graft] def admitShard(s: SparkSession, shard: DataFrame,
      root: String, closeLoop: Boolean,
      atVersion: Option[Long] = None,
      beforeCommit: () => Unit = () => (),
      beforeStage: () => Unit = () => ()): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // ONE bounded manifest read serves both the tip lookup here and
    // the prior-path re-stamp at publish time (it was two)
    val manifestRows = s.read.parquet(s"$root/manifest")
      .select("version", "path").collect()
    require(manifestRows.nonEmpty,
      s"admitShard: $root has no published manifest to admit against")
    val publishedMax = manifestRows.map(_.getLong(0)).max
    val prevV = atVersion.getOrElse(publishedMax)
    // pinning PAST the tip would read the full at-rest state (the
    // filters below pass everything) but re-stamp prior paths from a
    // manifest version that has zero rows — publishing a snapshot
    // that silently drops the whole published corpus
    require(prevV <= publishedMax,
      s"admitShard: atVersion=$prevV is not published (tip is " +
        s"$publishedMax) — a base version must exist to admit against")
    // every at-rest delta is stamped with the version that published
    // it, and ALL reads below filter `version <= prevV` — so pinning
    // `atVersion` is REAL: admitting against version v composes
    // against exactly the index/stats deltas that existed when v was
    // published, even on a root whose loop has since closed past it
    val idx = s.read.schema("fp STRING, version BIGINT")
      .parquet(s"$root/index/fp")
      .filter(col("version") <= prevV).select("fp")
    val keptText = shard.filter(wapHasText).withColumn("fp", wapFp)
      .join(idx, Seq("fp"), "left_anti")
      .withColumn("rn",
        row_number().over(Window.partitionBy("fp").orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn", "fp")
    val kept = keptText.unionByName(shard.filter(!wapHasText))
    val nextV = prevV + 1
    // WRITER-UNIQUE staging path (Iceberg's file-naming discipline):
    // two admissions racing to the same nextV must never share a
    // staging dir — with a deterministic stage/v{N}_admitted the
    // loser's SaveMode.Overwrite could run AFTER the winner's commit
    // and delete-and-rewrite the winner's PUBLISHED files with a
    // different shard's rows before its own commit fails (silent
    // corruption the manifest never records). The manifest records
    // the ACTUAL path at commit time, so no reader ever depends on
    // the name; the loser's staged dir is provably its own and is
    // deleted on conflict.
    val nonce =
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val stagePath = s"$root/stage/v${nextV}_admitted_$nonce"
    // A pinned-version REPLAY whose target version is already
    // published must not touch it: rewriting a published staging dir
    // after the manifest published it would tear the snapshot for a
    // reader resolving it mid-rewrite, and re-appending its manifest
    // rows would grow the manifest per replay. The replay still
    // performs the FULL staging write (it is part of the per-shard
    // cost the bench measures) — to a scratch path the manifest
    // never references; only the publish appends are skipped.
    val isReplay = atVersion.isDefined && publishedMax >= nextV
    val writePath =
      if (isReplay) s"$root/stage/v${nextV}_replay_$nonce" else stagePath
    // staging = write ONLY the admitted shard rows; published files
    // are referenced, never copied
    beforeStage() // test seam: park a loser so its STAGING write runs
                  // after another writer's commit (the interleaving
                  // the writer-unique path exists for)
    kept.write.mode(SaveMode.Overwrite).parquet(writePath)
    val admitted = s.read.parquet(writePath)
    // compose the audit aggregates: persisted publish-time stats
    // (summed across all prior increments — additive because every
    // increment's fingerprints were new) + admitted-side aggregates.
    // Both relations are BOUNDED (one totals row, one row per lang),
    // so each is COLLECTED once and handed to [[wapGates]] as a local
    // relation: the gate union references its inputs once per gate
    // row, and admission's cost is per-ACTION scheduling, not data —
    // one pass also carries the shard/admitted accounting that used
    // to be separate count() jobs.
    val totalsRow = s.read.parquet(s"$root/stats/totals")
      .filter(col("version") <= prevV)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n1"),
        coalesce(sum(col("nnull")), lit(0L)).as("nnull1"),
        coalesce(sum(col("nfp")), lit(0L)).as("nfp1"))
      .crossJoin(admitted.agg(count(lit(1)).as("ka"),
        coalesce(sum(when(!wapHasText, 1L).otherwise(0L)), lit(0L))
          .as("knull"))
        .crossJoin(shard.agg(count(lit(1)).as("nsh"))))
      .select(col("n1"), (col("n1") + col("ka")).as("n2"),
        (col("nnull1") + col("knull")).as("nnull"),
        (col("nfp1") + (col("ka") - col("knull"))).as("nfp"),
        col("ka"), col("knull"), col("nsh"))
      .head // ONE pass carries the audit totals AND the accounting
    val nKept = totalsRow.getAs[Long]("ka")
    val nShard = totalsRow.getAs[Long]("nsh")
    val totals = Seq((totalsRow.getAs[Long]("n1"),
      totalsRow.getAs[Long]("n2"), totalsRow.getAs[Long]("nnull"),
      totalsRow.getAs[Long]("nfp"))).toDF("n1", "n2", "nnull", "nfp")
    // staged-side lang counts = published ∪ admitted re-grouped (a
    // groupBy, not column addition: groupBy pools NULL langs into one
    // group exactly like the full-scan audit's staged groupBy, while
    // the full-outer join below keeps NULL keys unmatched exactly
    // like the full-scan audit's join — composed and full-scan agree
    // even on a NULL-lang corpus)
    val pubLang = s.read.parquet(s"$root/stats/lang")
      .filter(col("version") <= prevV)
      .groupBy("lang").agg(sum(col("c")).as("c1"))
    val stagedLang = pubLang.select(col("lang"), col("c1").as("c"))
      .unionByName(admitted.groupBy("lang").agg(count(lit(1)).as("c")))
      .groupBy("lang").agg(sum(col("c")).as("c2"))
    // keep the lang KEY through the collect: the same bounded rows
    // feed the gates (c1, c2) AND reconstruct the admitted per-lang
    // delta for the closeLoop append — Σc2 − Σc1 per lang key (the
    // two NULL-lang rows a full-outer join keeps unmatched sum to
    // exactly the admitted NULL-lang count)
    val langRows = pubLang.join(stagedLang, Seq("lang"), "full_outer")
      .select(col("lang"), coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
      .collect()
    val langs = langRows.toSeq
      .map(r => (r.getLong(1), r.getLong(2))).toDF("c1", "c2")
    val audit = wapGates(totals, langs)
    val rows = audit.collect()
    val allPass = rows.nonEmpty && rows.forall(_.getAs[Boolean]("pass"))
    if (allPass && !isReplay) { // publish = manifest rows only
      val prior = manifestRows.filter(_.getLong(0) == prevV)
        .map(_.getString(1)).distinct.sorted
      beforeCommit() // test seam: widen the stage→commit race window
      // validated commit: the tip this admission staged against must
      // still be the tip — a concurrent writer (compaction, another
      // admission) that published first wins, this one errors with
      // its staged shard deleted (safe: the nonce makes the staged
      // path this writer's own, never a published one)
      try commitManifest(s, root,
        (prior.toSeq :+ stagePath).map(p => (nextV, p)),
        expectedTip = Some(publishedMax), who = "admitShard")
      catch { case e: Throwable => deleteTree(stagePath); throw e }
      if (closeLoop) {
        admitted.filter(wapHasText).select(wapFp.as("fp"))
          .withColumn("version", lit(nextV))
          .write.mode(SaveMode.Append).parquet(s"$root/index/fp")
        // the totals and per-lang deltas are already in hand from the
        // audit's own pass — append the local rows, never re-scan
        Seq((nKept, totalsRow.getAs[Long]("knull")))
          .toDF("n", "nnull")
          .select(col("n"), col("nnull"),
            (col("n") - col("nnull")).as("nfp"))
          .withColumn("version", lit(nextV))
          .write.mode(SaveMode.Append).parquet(s"$root/stats/totals")
        langRows.toSeq
          .groupBy(r => Option(r.getString(0)))
          .map { case (lang, rs) =>
            (lang.orNull, rs.map(_.getLong(2)).sum - rs.map(_.getLong(1)).sum)
          }
          .filter(_._2 > 0L).toSeq
          .toDF("lang", "c")
          .withColumn("version", lit(nextV))
          .write.mode(SaveMode.Append).parquet(s"$root/stats/lang")
      }
    }
    // the replay scratch is never referenced again (the manifest
    // never points at it and the report below is a local relation of
    // already-collected rows) — drop it eagerly instead of letting
    // per-replay parquet dirs accumulate until the JVM-exit sweep
    if (isReplay) deleteTree(writePath)
    // the published version needs no manifest re-read: a passing
    // non-replay admission appended exactly nextV (a tip append —
    // nextV = prevV + 1 > publishedMax held by the require above on
    // the non-replay path), anything else left the tip alone
    val version = if (allPass && !isReplay) nextV else publishedMax
    s.createDataFrame(java.util.Arrays.asList(rows: _*), audit.schema)
      .unionAll(Seq(
        ("admitted_new", nKept, nKept, nKept, true),
        ("rejected_dup", nShard - nKept, nShard - nKept,
          nShard - nKept, true),
        ("published_version", version, version, version, allPass))
        .toDF("gate", "value_x1e6", "lo_x1e6", "hi_x1e6", "pass"))
  }

  /** The registered first increment: the doc_id % 5 == 4 shard
    * against the v1 snapshot, base version pinned and loop-closing
    * appends off so the replay is idempotent (see [[admitShard]]).
    */
  private[graft] def pipe15Admit(s: SparkSession, d: String,
      root: String): DataFrame =
    admitShard(s,
      Tables.load(s, d, "documents").filter(col("doc_id") % 5 === 4),
      root, closeLoop = false, atVersion = Some(1L))

  /** The published snapshot (data files, fingerprint index, audit
    * stats, v1 manifest row) is a ONE-TIME artifact per corpus —
    * d8/d19's persisted-index discipline, so the registered query
    * measures ADMISSION (the recurring per-shard cost a production
    * loop pays), and the publish is a memoized setup warmed through
    * the registry like every other shared relation. Admission is
    * idempotent on a published root (stage overwrite; duplicate v2
    * manifest rows keep max(version) = 2), so re-running on the
    * memoized root is hash-stable.
    */
  /** The shutdown sweep's recursive delete ([[Migrate.deleteTree]]),
    * applied eagerly to scratch that is provably unreferenced —
    * replay stage dirs and purged roots.
    */
  private def deleteTree(dir: String): Unit = Migrate.deleteTree(dir)

  /** Eviction (purge or stopped session) deletes the root's tree:
    * unlike [[graft.functions.Memo.memoizedTable]]'s relations (whose
    * files a rebuilt memo re-reads), an evicted root is never
    * re-entered — the next access republishes to a FRESH tempdir — so
    * leaving the old tree would only accumulate dead parquet until
    * JVM exit. Safe under purge's documented quiescence assumption.
    */
  private val pipe15Root: (SparkSession, String) => String =
    graft.functions.Memo.memoizedValue("pipeline.pipe15Publish",
        onEvict = deleteTree) { (s, d) =>
      val root = Migrate.tempDir("pipe15")
      pipe15PublishV1(s, d, root)
      root
    }

  graft.functions.Memo.memoWarmers.put("pipeline.pipe15Publish",
    (s: SparkSession, d: String) =>
      s.read.parquet(s"${pipe15Root(s, d)}/manifest"))

  def pipe15IncrementalWap(s: SparkSession, d: String): DataFrame =
    pipe15Admit(s, d, pipe15Root(s, d))

  /** The pipe15 construction (published v1, arriving shard, its
    * admitted survivors, the staged v2) as DuckDB CTEs — shared by
    * pipe15's oracle and pipe16's (whose logical content at every
    * version IS this v2).
    */
  private val pipe15V2CtesSql: String =
    s"""v1 AS (SELECT * FROM documents WHERE doc_id % 5 <> 4),
       |shard AS (SELECT * FROM documents WHERE doc_id % 5 = 4),
       |pubfp AS (SELECT DISTINCT md5(lower(
       |    regexp_replace(text, '\\s+', ' ', 'g'))) AS fp FROM v1
       |  WHERE text IS NOT NULL AND length(text) > 0),
       |kept AS (
       |  SELECT * EXCLUDE (fp, rn) FROM (
       |    SELECT s.*, row_number() OVER (
       |      PARTITION BY s.fp ORDER BY s.doc_id) AS rn
       |    FROM (SELECT *, md5(lower(
       |        regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
       |      FROM shard
       |      WHERE text IS NOT NULL AND length(text) > 0) s
       |    WHERE NOT EXISTS (SELECT 1 FROM pubfp p WHERE p.fp = s.fp))
       |  WHERE rn = 1
       |  UNION ALL
       |  SELECT * FROM shard
       |  WHERE text IS NULL OR length(text) = 0),
       |v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM kept)""".stripMargin

  val pipe15Sql: String =
    s"""WITH $pipe15V2CtesSql,
       |$wapGatesChainSql
       |SELECT * FROM g2
       |UNION ALL
       |SELECT 'admitted_new', (SELECT count(*) FROM kept),
       |  (SELECT count(*) FROM kept), (SELECT count(*) FROM kept), TRUE
       |UNION ALL
       |SELECT 'rejected_dup',
       |  (SELECT count(*) FROM shard) - (SELECT count(*) FROM kept),
       |  (SELECT count(*) FROM shard) - (SELECT count(*) FROM kept),
       |  (SELECT count(*) FROM shard) - (SELECT count(*) FROM kept), TRUE
       |UNION ALL
       |SELECT 'published_version',
       |  CASE WHEN (SELECT bool_and(pass) FROM g2) THEN 2 ELSE 1 END,
       |  CASE WHEN (SELECT bool_and(pass) FROM g2) THEN 2 ELSE 1 END,
       |  CASE WHEN (SELECT bool_and(pass) FROM g2) THEN 2 ELSE 1 END,
       |  (SELECT bool_and(pass) FROM g2)""".stripMargin

  /** pipe16: VERSION-PRESERVING COMPACTION — the one data-file
    * mutation a WAP-governed corpus ever allows (Iceberg's
    * `rewrite_data_files` semantics): after increments accumulate,
    * the live snapshot's file set (published base + admitted shard
    * dirs) is rewritten into size-targeted files and published as the
    * NEXT manifest version with BYTE-IDENTICAL logical content —
    * prior versions' files are never touched (time travel stays
    * intact; readers mid-query on vN never see a torn snapshot), and
    * the hash gate pins the lossless contract: the report carries
    * (n_docs, order-insensitive row checksum) for the pre-compaction
    * version and the compacted one, and the oracle recomputes BOTH
    * rows from the raw corpus — equal by construction only if the
    * rewrite lost and invented nothing. Replays (the bench
    * re-samples) rewrite to a scratch path the manifest never
    * references and delete it after (pipe15's replay discipline), so
    * published compacted files are never overwritten in place.
    *
    * 100 TB shape: the rewrite reads and writes ONLY the live file
    * set (one pass, no shuffle beyond the repartition exchange that
    * IS the bin-packing), file-count targeting comes from the
    * manifest's bounded listing (never a data scan), and the publish
    * is one manifest append — s13's size-targeted compaction lifted
    * to manifest-versioned semantics.
    */
  private val Pipe16TargetBytes = 32L << 20

  /** One-time setup (memoized, warmed): a pipe15 root driven through
    * publish + one loop-closing admission, so the compactor faces the
    * real post-increment layout — base files plus an admitted-shard
    * dir. Pins the setup's published max version alongside the root:
    * the registered query always compacts FROM that version, so
    * replays are hash-stable no matter what the compactor itself has
    * published since.
    */
  private val pipe16Setup: (SparkSession, String) => (String, Long) =
    graft.functions.Memo.memoizedValue("pipeline.pipe16Setup",
        onEvict = (t: (String, Long)) => deleteTree(t._1)) { (s, d) =>
      val root = Migrate.tempDir("pipe16")
      pipe15PublishV1(s, d, root)
      admitShard(s,
        Tables.load(s, d, "documents").filter(col("doc_id") % 5 === 4),
        root, closeLoop = true)
      val maxV = s.read.parquet(s"$root/manifest")
        .agg(max(col("version"))).head.getLong(0)
      (root, maxV)
    }

  graft.functions.Memo.memoWarmers.put("pipeline.pipe16Setup",
    (s: SparkSession, d: String) => {
      val (root, fromV) = pipe16Setup(s, d)
      // settle the root at its 3-version layout up front: pipe16's
      // timed figure is then always the replay-rewrite (its actual
      // recurring cost) and pipe17's never includes a publish
      ensureCompacted(s, root, fromV)
      s.read.parquet(s"$root/manifest")
    })

  /** Rewrite version `fromV`'s file set into size-targeted files and
    * publish as `fromV + 1`; report (version, n_docs, row_checksum)
    * for both versions.
    */
  /** The five-column checksum/fingerprint spec of the documents
    * corpus — ONE definition for compactVersion, rollbackTo, and
    * both their oracles: a drifted copy would silently desynchronize
    * an engine row checksum from the SQL it is hash-compared
    * against.
    */
  private val docChkCols: Seq[NormCol] =
    Seq(NormCol("doc_id", KLong), NormCol("text", KStr),
      NormCol("lang", KStr), NormCol("source", KStr),
      NormCol("n_chars", KLong))

  private[graft] def compactVersion(s: SparkSession, root: String,
      fromV: Long, beforeCommit: () => Unit = () => (),
      beforeStage: () => Unit = () => ()): DataFrame = {
    import s.implicits._
    val manifest = s.read.parquet(s"$root/manifest")
    val fromPaths = manifest.filter(col("version") === fromV)
      .select("path").distinct().collect().map(_.getString(0)).sorted
    require(fromPaths.nonEmpty, s"version $fromV is not published")
    val from = fromPaths.map(s.read.parquet(_)).reduce(_ unionByName _)
    val nextV = fromV + 1
    val publishedMax = manifest.agg(max(col("version"))).head.getLong(0)
    // WRITER-UNIQUE rewrite dir (the admitShard staging discipline):
    // two compactions racing from the same fromV both pass the tip
    // guard below — with a shared deterministic data/v{N}_compact the
    // loser would overwrite the winner's PUBLISHED rewrite and then
    // deleteTree it in its conflict handler, leaving the manifest's
    // v{N} pointing at nothing (published data loss). Each writer
    // rewrites into its own dir, commits ITS path, and on conflict
    // deletes only what it alone wrote; the manifest records the
    // actual path so no reader depends on the name.
    val nonce =
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val targetPrefix = s"$root/data/v${nextV}_compact"
    val target = s"${targetPrefix}_$nonce"
    // a replay is "A compaction of fromV already published": version
    // nextV exists AND points at a compacted dir (prefix match — the
    // nonce differs per writer, and any committed rewrite of the same
    // deterministic input is content-identical). publishedMax alone
    // would misread compacting a NON-TIP version as a replay (nextV
    // published by some other writer kind, no compacted dir) and then
    // summarize a path that doesn't exist — that case is a fork, and
    // it fails fast instead
    val committedCompact = manifest.filter(col("version") === nextV)
      .select("path").distinct().collect().map(_.getString(0))
      .filter(_.startsWith(targetPrefix)).sorted
    val isReplay = committedCompact.nonEmpty
    require(isReplay || fromV == publishedMax,
      s"compactVersion: version $nextV is already published by " +
        s"another writer (tip is $publishedMax) — compaction only " +
        "rewrites the tip or replays its own prior rewrite")
    val writePath = target
    // bin-packing from the manifest's bounded file listing, never a
    // data scan: total bytes / target size = output file count
    val conf = s.sparkContext.hadoopConfiguration
    val bytes = fromPaths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).getContentSummary(hp).getLength
    }.sum
    val nFiles = math.max(1L,
      (bytes + Pipe16TargetBytes - 1) / Pipe16TargetBytes).toInt
    beforeStage() // test seam: park a loser so its rewrite write runs
                  // after another writer's commit
    from.repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(writePath)
    if (!isReplay) {
      beforeCommit() // test seam: widen the rewrite→commit race window
      // validated commit (see commitManifest): losing the race to a
      // concurrent admission errors here with the rewrite
      // unreferenced — delete it so the loser leaves no orphan
      // (safe: the nonce makes writePath this writer's own, never
      // one another writer could have published)
      try commitManifest(s, root, Seq((nextV, target)),
        expectedTip = Some(publishedMax), who = "compactVersion")
      catch { case e: Throwable => deleteTree(writePath); throw e }
    }
    if (isReplay) deleteTree(writePath)
    val chkCols = docChkCols
    def summarize(v: Long, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"),
          Norm.sparkRowChecksum(chkCols).as("row_checksum"))
        .select(lit(v).as("version"), col("n_docs"), col("row_checksum"))
    // the compacted row reads the PUBLISHED files (the durable
    // artifact a reader resolves — on replay, the prior commit's
    // dir), never the replay scratch
    val publishedDir = if (isReplay) committedCompact.head else target
    summarize(fromV, from).unionAll(summarize(nextV,
      s.read.schema(from.schema).parquet(publishedDir)))
  }

  def pipe16CompactionRewrite(s: SparkSession, d: String): DataFrame = {
    val (root, fromV) = pipe16Setup(s, d)
    compactVersion(s, root, fromV)
  }

  /** Publish the compacted version if no successor of `fromV` exists
    * yet — the idempotent "make sure the root is at its settled
    * 3-version state" step pipe17 and the warmer share, so the
    * settled layout never depends on whether pipe16's own query ran
    * first (and nobody but pipe16 pays a rewrite).
    */
  private[graft] def ensureCompacted(s: SparkSession, root: String,
      fromV: Long): Unit =
    if (s.read.parquet(s"$root/manifest")
        .filter(col("version") === fromV + 1).limit(1).count() == 0) {
      compactVersion(s, root, fromV).collect(); ()
    }

  /** pipe17: SNAPSHOT VERSION DIFF — the time-travel audit question
    * every versioned corpus gets asked ("what changed between v_a and
    * v_b?"), answered per consecutive manifest-version pair as
    * (rows added, rows removed, rows changed-in-place) keyed on
    * doc_id. On the settled pipe16 root the transitions are exactly
    * the loop's own story, and the ORACLE states it from the raw
    * corpus: v1→v2 adds the admitted survivors and nothing else;
    * v2→v3 (the compaction) adds, removes, and changes NOTHING — the
    * rewrite-invisibility contract from a reader's point of view,
    * now a hash-gated row rather than a scaladoc promise.
    *
    * 100 TB shape: each version's (doc_id, row-hash) relation is
    * materialized once — middle versions feed two transitions — and
    * each transition is ONE doc_id-keyed full-outer join whose
    * single pass yields added, removed, and changed together; no
    * corpus-sized state, and versions resolve through the manifest's
    * bounded listing. Materialization is the repo's own scratch-
    * parquet replay discipline (pipe15/16's unreferenced-path rule),
    * NOT localCheckpoint: the hash relations are corpus-sized, and
    * pinning them to executor block storage is non-fault-tolerant
    * (a lost executor kills the diff job instead of recomputing a
    * partition) and holds three corpus-sized relations in block-
    * manager memory. Scratch parquet spills to storage, every join
    * recomputes from a durable file scan, and the whole dir is
    * deleted once the bounded transition rows are collected.
    */
  def pipe17VersionDiff(s: SparkSession, d: String): DataFrame = {
    val (root, fromV) = pipe16Setup(s, d)
    ensureCompacted(s, root, fromV)
    val manifest = s.read.parquet(s"$root/manifest")
    val versions = manifest.select("version").distinct()
      .collect().map(_.getLong(0)).sorted
    def resolve(v: Long): DataFrame =
      manifest.filter(col("version") === v).select("path").distinct()
        .collect().map(_.getString(0)).sorted
        .map(s.read.parquet(_)).reduce(_ unionByName _)
    // engine-side row hash (never crosses to the oracle — only the
    // COUNTS do): any column edit flips it. The concat separator is
    // \u0001 (invisible in most renderings — it is NOT an empty
    // string): boundary-shifted edits cannot collide unless a column
    // value itself contains \u0001.
    val rowHash = Norm.xhash64(concat_ws("\u0001",
      col("doc_id").cast("string"),
      coalesce(col("text"), lit("")), coalesce(col("lang"), lit("")),
      coalesce(col("source"), lit("")),
      coalesce(col("n_chars").cast("string"), lit(""))))
    // each version's hash relation is materialized ONCE (middle
    // versions feed two transitions) as SCRATCH PARQUET the manifest
    // never references; each transition is ONE doc_id-keyed
    // full-outer join over the two file scans whose single pass
    // yields all three counts — the old shape re-resolved each
    // version per transition side and re-scanned both sides once per
    // count, and an intermediate shape pinned the corpus-sized
    // relations to executor block storage via localCheckpoint (the
    // r13 scale finding this rewrite closes)
    val scratch = Migrate.tempDir("pipe17_hash")
    val rows =
      // the materialization loop sits INSIDE the try: a failure
      // during any version's scratch write (not just during the
      // joins) still sweeps the corpus-sized scratch dir eagerly
      // instead of leaking it until the JVM-exit hook
      try {
        val hashed = versions.map { v =>
          resolve(v).select(col("doc_id"), rowHash.as("h"))
            .write.mode(SaveMode.Overwrite).parquet(s"$scratch/v$v")
          v -> s.read.schema("doc_id BIGINT, h BIGINT")
            .parquet(s"$scratch/v$v")
        }.toMap
        versions.sliding(2).collect { case Array(a, b) =>
        val r = hashed(a).withColumnRenamed("h", "ha")
          .join(hashed(b).withColumnRenamed("h", "hb"),
            Seq("doc_id"), "full_outer")
          .agg( // coalesced: sum over the EMPTY join (empty corpus) is NULL
            coalesce(sum(when(col("ha").isNull && col("hb").isNotNull, 1L)
              .otherwise(0L)), lit(0L)).as("n_added"),
            coalesce(sum(when(col("hb").isNull && col("ha").isNotNull, 1L)
              .otherwise(0L)), lit(0L)).as("n_removed"),
            coalesce(sum(when(col("ha").isNotNull && col("hb").isNotNull &&
              col("ha") =!= col("hb"), 1L).otherwise(0L)), lit(0L))
              .as("n_changed"))
          .head
        (a, b, r.getLong(0), r.getLong(1), r.getLong(2))
        }.toSeq
      }
      // the scratch is provably unreferenced once the bounded rows
      // are in hand (the result below is a local relation) — delete
      // eagerly, like admitShard's replay stage dirs
      finally deleteTree(scratch)
    import s.implicits._
    rows.toDF("from_version", "to_version",
      "n_added", "n_removed", "n_changed")
  }

  /** The settled root's transitions, stated from the raw corpus. */
  val pipe17Sql: String =
    s"""WITH $pipe15V2CtesSql
       |SELECT CAST(1 AS BIGINT) AS from_version,
       |  CAST(2 AS BIGINT) AS to_version,
       |  (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_added,
       |  CAST(0 AS BIGINT) AS n_removed, CAST(0 AS BIGINT) AS n_changed
       |UNION ALL
       |SELECT 2, 3, 0, 0, 0""".stripMargin

  /** Both versions' logical content is pipe15's v2 (base ∪ admitted)
    * — the oracle recomputes the SAME (count, checksum) row for each
    * version label from the raw corpus, so any row the rewrite lost,
    * duplicated, or mutated hash-mismatches.
    */
  val pipe16Sql: String = {
    val chkCols = docChkCols
    def row(v: Long) =
      s"""SELECT CAST($v AS BIGINT) AS version,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  ${Norm.duckRowChecksum(chkCols)} AS row_checksum
         |FROM v2""".stripMargin
    s"""WITH $pipe15V2CtesSql
       |${row(2L)}
       |UNION ALL
       |${row(3L)}""".stripMargin
  }

  /** pipe18: ROLLBACK PUBLISH — the WAP lifecycle's undo: promote a
    * PRIOR version's exact file set as the next manifest version
    * (Iceberg's `rollback_to_snapshot` semantics). A bad publish is
    * undone by ONE manifest append that re-stamps the target
    * version's paths — data files move never, the bad version's
    * files stay published for forensics, and readers that resolved
    * the bad tip mid-query finish on an intact snapshot. The report
    * carries (n_docs, order-insensitive row checksum) for the
    * rollback TARGET (v1) and the rollback PUBLISH (v4) plus a
    * files_shared flag (resolved path-set equality); the oracle
    * recomputes both content rows from the raw corpus and pins
    * files_shared TRUE — so stamping the wrong version's paths
    * (v2/v3 content differs from v1's in count and checksum) or
    * copying instead of referencing hash-mismatches.
    *
    * 100 TB shape: rollback is manifest-only — one bounded listing
    * read + one bounded append; the only data pass is the report's
    * checksum over the two resolved snapshots, and a production
    * rollback skips even that (the checksum here is the test
    * contract, not the operator cost).
    */
  private val pipe18Setup: (SparkSession, String) => (String, Long) =
    graft.functions.Memo.memoizedValue("pipeline.pipe18Setup",
        onEvict = (t: (String, Long)) => deleteTree(t._1)) { (s, d) =>
      // a settled 3-version root OF ITS OWN: rolling back pipe16's
      // root would grow a (3,4) transition into pipe17's diff. The
      // admitted version is DERIVED (maxV), which keeps the OPERATOR
      // well-defined on any corpus — but the REGISTERED query's
      // oracle (pipe18Sql) pins versions 1 and 4, so verification
      // assumes the benchmark corpus passes the admission gates
      // (shard held → the loop settles at (1,3) and the oracle
      // mismatches loudly; that is the honest contract, not a
      // resilience claim).
      val root = Migrate.tempDir("pipe18")
      pipe15PublishV1(s, d, root)
      admitShard(s,
        Tables.load(s, d, "documents").filter(col("doc_id") % 5 === 4),
        root, closeLoop = true)
      val maxV = s.read.parquet(s"$root/manifest")
        .agg(max(col("version"))).head.getLong(0)
      ensureCompacted(s, root, maxV)
      (root, maxV + 1)
    }

  graft.functions.Memo.memoWarmers.put("pipeline.pipe18Setup",
    (s: SparkSession, d: String) =>
      s.read.parquet(s"${pipe18Setup(s, d)._1}/manifest"))

  /** Publish `toV` as a re-stamp of `targetV`'s paths; idempotent on
    * replay (the bench re-samples), fail-fast on a fork (`toV`
    * published by another writer with different paths).
    */
  private[graft] def rollbackTo(s: SparkSession, root: String,
      targetV: Long, toV: Long,
      beforeCommit: () => Unit = () => ()): DataFrame = {
    import s.implicits._
    // a parquet read snapshots its file listing at definition — the
    // manifest must be re-listed after the append, or the shared-path
    // check below would judge pre-append state
    def paths(v: Long): Seq[String] =
      s.read.parquet(s"$root/manifest")
        .filter(col("version") === v).select("path").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
    val target = paths(targetV)
    require(target.nonEmpty, s"rollbackTo: version $targetV is not published")
    // an EXPIRED version must not come back as the tip: pipe20's
    // vacuum deleted the dirs only it referenced, so re-stamping its
    // paths would publish a version that silently fails to resolve
    // (the manifest itself never records expiry — the tombstone
    // relation beside it does). Unlocked fast-fail here; the
    // authoritative re-check runs under the commit lock below,
    // closing the observe→commit window against a concurrent vacuum
    // (which tombstones under the same lock).
    def requireNotExpired(): Unit =
      require(!expiredVersions(s, root)(targetV),
        s"rollbackTo: version $targetV is expired — its unreferenced " +
          "files were vacuumed and its snapshot cannot be re-published")
    requireNotExpired()
    val existing = paths(toV)
    if (existing.isEmpty) {
      beforeCommit() // test seam: widen the observe→commit race window
      // validated commit: a rollback publishes THE NEXT version, so
      // the tip it observed must still be toV - 1 — losing a race to
      // a concurrent writer errors instead of forking the manifest;
      // the tombstone re-check runs under the same lock a vacuum
      // tombstones under, so "observed live, expired while parked"
      // fails HERE instead of publishing a dangling snapshot
      commitManifest(s, root, target.map(p => (toV, p)),
        expectedTip = Some(toV - 1), who = "rollbackTo",
        underLock = () => requireNotExpired())
    }
    else require(existing == target,
      s"rollbackTo: version $toV is already published with a different " +
        s"file set (fork) — refusing to re-stamp it as a rollback")
    val chkCols = docChkCols
    val shared = paths(toV) == target
    def row(v: Long) =
      paths(v).map(s.read.parquet(_)).reduce(_ unionByName _)
        .agg(count(lit(1)).as("n_docs"),
          Norm.sparkRowChecksum(chkCols).as("row_checksum"))
        .select(lit(v).as("version"), col("n_docs"),
          col("row_checksum"), lit(shared).as("files_shared"))
    row(targetV).unionAll(row(toV))
  }

  def pipe18RollbackPublish(s: SparkSession, d: String): DataFrame = {
    val (root, tip) = pipe18Setup(s, d)
    rollbackTo(s, root, targetV = 1L, toV = tip + 1)
  }

  /** Both report rows are v1's logical content (the pre-admission
    * 4/5 slice) — the rollback published v1's files as v4.
    */
  val pipe18Sql: String = {
    val chkCols = docChkCols
    def row(v: Long) =
      s"""SELECT CAST($v AS BIGINT) AS version,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  ${Norm.duckRowChecksum(chkCols)} AS row_checksum,
         |  TRUE AS files_shared
         |FROM v1""".stripMargin
    s"""WITH v1 AS (SELECT * FROM documents WHERE doc_id % 5 <> 4)
       |${row(1L)}
       |UNION ALL
       |${row(4L)}""".stripMargin
  }

  /** pipe20: SNAPSHOT EXPIRATION / VACUUM — the WAP lifecycle's
    * garbage collector (Iceberg's `expire_snapshots` semantics), the
    * piece that keeps a versioned corpus from growing without bound:
    * versions older than the retention window stop being resolvable
    * and the data directories referenced ONLY by expired versions are
    * deleted. The safety invariant is the whole operator: a directory
    * shared with any LIVE version (the manifest re-stamps prior paths
    * on every admission and rollback, so sharing is the NORM) must
    * survive — the report proves it by resolving every live version
    * AFTER the deletes and counting its docs. The manifest itself is
    * never rewritten (append-only stays append-only — readers and the
    * conflict protocol keep their one source of truth); expiry is
    * recorded as a version-level tombstone relation beside it, and
    * the at-rest index/stats deltas of expired versions remain (they
    * are bounded metadata that later pinned admissions still compose
    * against).
    *
    * Report: one row per manifest version — (version, is_live,
    * n_dirs_dropped, n_docs), with n_docs = −1 for expired versions
    * (no longer resolvable) and the post-delete recount for live
    * ones. On the settled 4-version root the oracle states the whole
    * story from the raw corpus: v1/v2 expire, ONLY v2's staging dir
    * is dropped (data/v1 is shared with the live rollback v4 and must
    * survive), v3 recounts to the admitted corpus, v4 to the base.
    *
    * Idempotent by construction: a replay recomputes the same live
    * set from the untouched manifest, re-deletes already-gone dirs
    * (no-op), overwrites the tombstones with the same rows, and
    * recounts the same live versions.
    *
    * 100 TB shape: pure manifest arithmetic — one bounded listing
    * read decides the safe-to-delete set (set difference over path
    * strings, never a data scan); deletes are O(dirs); the only data
    * pass is the report's recount, which a production vacuum skips
    * (here it IS the safety proof the oracle hashes).
    */
  /** The root's expired-version tombstones (empty before any vacuum
    * ran) — ONE reader shared by rollbackTo's guard (both its
    * unlocked fast-fail and its locked re-check) so the two can
    * never read the relation differently.
    */
  private def expiredVersions(s: SparkSession, root: String): Set[Long] = {
    val expPath = new org.apache.hadoop.fs.Path(s"$root/expired")
    if (expPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(expPath))
      s.read.schema("version BIGINT").parquet(s"$root/expired")
        .collect().map(_.getLong(0)).toSet
    else Set.empty[Long]
  }

  /** The root's recorded retention policy — a tiny text file holding
    * the pinned `keepLast`, written under the commit lock at the
    * FIRST vacuum. Later vacuums validate against it instead of
    * silently racing: two concurrent vacuums with CONFLICTING
    * keepLast values would otherwise interleave legally under the
    * lock yet expire with a narrower window during the other's
    * post-release recount. A deliberate serial policy change goes
    * through `updatePolicy = true`, which rewrites the file under
    * the same lock.
    */
  private def retentionPath(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/retention.policy")

  private def readRetention(s: SparkSession, root: String): Option[Int] = {
    val p = retentionPath(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try {
          // loop to EOF — a single read() may legally return short,
          // and a clipped "12" parsing as 1 would fabricate a
          // retention conflict
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](32)
          var n = in.read(buf)
          while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
          new String(out.toByteArray, "UTF-8").trim
        } finally in.close()
      // an empty or garbled file is a vacuum that crashed between
      // create and write — treat it as NO recorded policy so the
      // current vacuum re-pins (exactly what the crashed first
      // vacuum would have done), instead of wedging every future
      // vacuum on a NumberFormatException it can never clear
      text.toIntOption
    }
  }

  private def writeRetention(s: SparkSession, root: String,
      keepLast: Int): Unit = {
    val p = retentionPath(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(keepLast.toString.getBytes("UTF-8"))
    finally out.close()
  }

  private[graft] def expireVersions(s: SparkSession, root: String,
      keepLast: Int, updatePolicy: Boolean = false): DataFrame = {
    import s.implicits._
    require(keepLast >= 1,
      "expireVersions: must keep at least the tip version")
    // the decide + tombstone section runs UNDER THE COMMIT LOCK:
    // unserialized, a vacuum could expire a version between a
    // rollback's observe and its commit — the tip would not move, so
    // the rollback's tip validation would pass and publish a version
    // pointing at just-deleted dirs. Under the shared lock, either
    // the rollback commits first (its target's dirs become
    // live-referenced and survive) or the vacuum's tombstone lands
    // first and the rollback's locked re-check refuses. The PHYSICAL
    // delete pass and the data-sized recount both run AFTER release
    // — see below.
    val (manifestRows, versions, live, expP) =
      withCommitLock(s, root, "expireVersions") {
        val manifestRows = s.read.parquet(s"$root/manifest")
          .select("version", "path").distinct().collect()
          .map(r => (r.getLong(0), r.getString(1)))
        require(manifestRows.nonEmpty,
          s"expireVersions: $root has no published manifest")
        // retention serialization: the first vacuum pins the root's
        // keepLast; a later vacuum with a different value fails loud
        // unless it explicitly carries the policy change
        readRetention(s, root) match {
          case Some(rec) if rec != keepLast && !updatePolicy =>
            throw new IllegalArgumentException(
              s"expireVersions: conflicting retention — $root is " +
                s"pinned to keepLast=$rec (set at its first vacuum); " +
                s"got keepLast=$keepLast. Pass updatePolicy=true for " +
                "a deliberate serial retention change.")
          case Some(rec) =>
            if (rec != keepLast) writeRetention(s, root, keepLast)
          case None => writeRetention(s, root, keepLast)
        }
        val versions = manifestRows.map(_._1).distinct.sorted
        // expiry is MONOTONE: once tombstoned, a version stays
        // expired even if a later vacuum runs with a wider retention
        // — its unreferenced dirs are already gone, and
        // "un-tombstoning" it would let a rollback re-stamp a
        // snapshot that no longer resolves. (The tip can never be
        // tombstoned: keepLast >= 1 at every vacuum and the manifest
        // only grows.)
        val priorExpired = expiredVersions(s, root)
        val live =
          versions.takeRight(keepLast).toSet -- priorExpired
        val liveP = manifestRows.filter(t => live(t._1)).map(_._2).toSet
        // safe-to-delete = referenced by SOME expired version and NO
        // live one; anything shared with a live version survives
        val expP =
          manifestRows.filterNot(t => live(t._1)).map(_._2).toSet --
            liveP
        // durable version-level tombstones land BEFORE the deletes
        // (the full monotone set, Overwrite: replay-idempotent): a
        // crash between them leaves tombstoned-but-present dirs — a
        // later replay re-deletes; the reverse order could leave
        // deleted-but-untombstoned versions a rollback would happily
        // re-stamp
        versions.filterNot(live).toSeq.toDF("version")
          .write.mode(SaveMode.Overwrite).parquet(s"$root/expired")
        (manifestRows, versions, live, expP)
      }
    // the PHYSICAL delete pass runs AFTER lock release: on an object
    // store, expiring hundreds of staged/compacted dirs is minutes of
    // delete RPCs, and holding the lock through them would time out
    // every concurrent admission/compaction/rollback. The ordering
    // above already makes this safe — the tombstones are DURABLE
    // before release, so a rollback's locked re-check refuses an
    // expired target even while its dirs still exist; a crash
    // mid-delete replays (re-deleting a tombstoned set is
    // idempotent); and no later writer can reference an expired-only
    // dir, because commits only append paths their own writer staged
    // under a fresh nonce.
    expP.toSeq.sorted.foreach(deleteTree)
    val rows = versions.map { v =>
      val vPaths = manifestRows.filter(_._1 == v).map(_._2)
        .distinct.sorted
      val nDocs =
        if (live(v)) // resolve AFTER the deletes — the safety proof
          vPaths.map(s.read.parquet(_)).reduce(_ unionByName _).count()
        else -1L
      (v, live(v), vPaths.count(expP).toLong, nDocs)
    }.toSeq
    rows.toDF("version", "is_live", "n_dirs_dropped", "n_docs")
  }

  /** A settled 4-version root OF ITS OWN (expiring pipe16/pipe18's
    * shared roots would delete dirs their replays resolve): publish,
    * admit, compact, rollback — the full lifecycle pipe20 then
    * garbage-collects. Version pinning carries pipe18's honest
    * contract: the oracle assumes the benchmark corpus passes the
    * admission gates.
    */
  private val pipe20Setup: (SparkSession, String) => String =
    graft.functions.Memo.memoizedValue("pipeline.pipe20Setup",
        onEvict = deleteTree) { (s, d) =>
      val root = Migrate.tempDir("pipe20")
      pipe15PublishV1(s, d, root)
      admitShard(s,
        Tables.load(s, d, "documents").filter(col("doc_id") % 5 === 4),
        root, closeLoop = true)
      // versions DERIVED, not pinned (pipe18's discipline): on a
      // corpus where the admission gates hold (the empty sweep) the
      // loop settles lower and the setup must still build a valid
      // root — the REGISTERED oracle pins 1..4 for the benchmark
      // corpus, the OPERATOR stays total
      val maxV = s.read.parquet(s"$root/manifest")
        .agg(max(col("version"))).head.getLong(0)
      ensureCompacted(s, root, maxV)
      rollbackTo(s, root, targetV = 1L, toV = maxV + 2)
      root
    }

  graft.functions.Memo.memoWarmers.put("pipeline.pipe20Setup",
    (s: SparkSession, d: String) =>
      s.read.parquet(s"${pipe20Setup(s, d)}/manifest"))

  def pipe20SnapshotExpire(s: SparkSession, d: String): DataFrame =
    expireVersions(s, pipe20Setup(s, d), keepLast = 2)

  /** The settled root's whole expiry story from the raw corpus:
    * v1/v2 expire (−1 docs), exactly one dir is dropped and it is
    * v2's staging dir (data/v1 is shared with the live v4), v3 is
    * the admitted corpus, v4 the rollback to the base.
    */
  val pipe20Sql: String =
    s"""WITH $pipe15V2CtesSql
       |SELECT CAST(1 AS BIGINT) AS version, FALSE AS is_live,
       |  CAST(0 AS BIGINT) AS n_dirs_dropped,
       |  CAST(-1 AS BIGINT) AS n_docs
       |UNION ALL
       |SELECT 2, FALSE, 1, -1
       |UNION ALL
       |SELECT 3, TRUE, 0, (SELECT CAST(count(*) AS BIGINT) FROM v2)
       |UNION ALL
       |SELECT 4, TRUE, 0, (SELECT CAST(count(*) AS BIGINT) FROM v1)"""
      .stripMargin

  /** pipe21: ORPHAN-DIRECTORY SWEEP — the other half of the storage
    * garbage collector (Iceberg's `remove_orphan_files`): a writer
    * that CRASHED between staging and commit leaves its writer-unique
    * dir behind with no manifest reference and no conflict handler to
    * sweep it — on a real deployment those accumulate forever. The
    * sweep lists only the data-bearing namespaces (`stage/`,
    * `data/`), subtracts every manifest-referenced path, and deletes
    * what remains IF it is older than `graceMs`. The grace period is
    * the safety contract: a LIVE writer's staged dir is also
    * unreferenced until its commit, so production grace must exceed
    * the longest stage→commit window (Iceberg defaults to days);
    * the DECIDE runs under the commit lock, so the referenced set is
    * a consistent manifest snapshot, and the grace window covers
    * writers parked mid-stage. The physical deletes run after lock
    * release (a decided orphan can never become referenced — commits
    * only append paths their own writer staged under a fresh nonce),
    * so an object-store-sized delete pass never stalls concurrent
    * commits. Meta relations (manifest, index, stats, expired)
    * live outside the swept namespaces by construction.
    *
    * The sweep also garbage-collects CRASHED STREAMING-ADMISSION
    * CHECKPOINTS: a pipe19-style ingest keys its Structured Streaming
    * checkpoint by run id under `ckpt/<runId>`, and a run that
    * crashed and was abandoned leaks that dir forever (it is never
    * manifest-referenced, so the data-namespace subtraction cannot
    * see it). Liveness is ACTIVITY, not reference: every micro-batch
    * writes a new offsets/commits file, advancing the child dirs'
    * mtimes — a run dir whose newest mtime (itself or any direct
    * child) is older than `graceMs` is a dead run; a live or merely
    * parked stream stays inside grace. A swept run id can always be
    * re-ingested from the at-rest index (admission is
    * content-idempotent), so over-sweeping an abandoned-but-restartable
    * run loses no data, only its stream position.
    *
    * The registered query PLANTS one crashed-writer dir and sweeps
    * with grace 0 each run (the replayable-cost pattern pipe16 uses
    * for its rewrite), so the report — orphans dropped, referenced
    * dirs, tip recount after the sweep — is deterministic under the
    * bench's re-sampling.
    *
    * 100 TB shape: one bounded manifest read + one directory listing
    * per namespace (NOT a recursive file walk — staging dirs are the
    * unit of both commit and cleanup); deletes are O(orphans); the
    * tip recount is the safety proof, skippable in production.
    */
  /** Newest write activity under a checkpoint RUN dir: the max mtime
    * over the dir itself, its direct children, and the FILES inside
    * its direct child dirs (offsets/, commits/, sources/ — a live
    * stream lands a new offset/commit FILE every micro-batch).
    * Depth-2 and file-based deliberately: object stores report
    * synthetic directory entries whose mtimes never advance when
    * files land inside them, so a dir-mtime liveness test would
    * classify every long-running stream as dead on exactly the
    * deployments this GC exists for. The offsets listing grows with
    * stream age — that is the GC's price, one paginated listing per
    * run dir per sweep, not a recursive walk of the state store.
    */
  private def ckptNewestMtime(fs: org.apache.hadoop.fs.FileSystem,
      run: org.apache.hadoop.fs.FileStatus): Long = {
    val kids = fs.listStatus(run.getPath).toSeq
    val grandkids = kids.filter(_.isDirectory)
      .flatMap(k =>
        try fs.listStatus(k.getPath).toSeq
        catch { case _: java.io.FileNotFoundException => Seq.empty })
    (run.getModificationTime +: (kids ++ grandkids)
      .map(_.getModificationTime)).max
  }

  private[graft] def removeOrphans(s: SparkSession, root: String,
      graceMs: Long): DataFrame = {
    import s.implicits._
    val conf = s.sparkContext.hadoopConfiguration
    // BOTH sides of the membership test are scheme-stripped: on an
    // hdfs:// root the manifest records scheme-qualified paths while
    // listStatus yields qualified ones too — comparing a stripped
    // listing against raw manifest strings would make every
    // referenced dir look orphaned (a sweep that deletes the corpus)
    def norm(p: String): String = org.apache.hadoop.fs.Path
      .getPathWithoutSchemeAndAuthority(new org.apache.hadoop.fs.Path(p))
      .toString
    val (orphans, deadCkpts, referencedN) =
      withCommitLock(s, root, "removeOrphans") {
        val referenced = s.read.parquet(s"$root/manifest")
          .select("path").distinct().collect()
          .map(r => norm(r.getString(0))).toSet
        require(referenced.nonEmpty,
          s"removeOrphans: $root has no published manifest")
        val now = System.currentTimeMillis()
        val orphans = Seq("stage", "data").flatMap { ns =>
          val nsPath = new org.apache.hadoop.fs.Path(s"$root/$ns")
          val fs = nsPath.getFileSystem(conf)
          if (!fs.exists(nsPath)) Seq.empty
          else fs.listStatus(nsPath).toSeq.filter(_.isDirectory)
            .filterNot(st =>
              referenced(org.apache.hadoop.fs.Path
                .getPathWithoutSchemeAndAuthority(st.getPath).toString))
            .filter(st => now - st.getModificationTime >= graceMs)
            .map(st => org.apache.hadoop.fs.Path
              .getPathWithoutSchemeAndAuthority(st.getPath).toString)
        }
        // dead streaming checkpoints: run-id dirs under ckpt/ with no
        // write activity inside grace — see ckptNewestMtime for why
        // activity is read off FILE mtimes two levels deep
        val ckptRoot = new org.apache.hadoop.fs.Path(s"$root/ckpt")
        val ckFs = ckptRoot.getFileSystem(conf)
        val deadCkpts =
          if (!ckFs.exists(ckptRoot)) Seq.empty[String]
          else ckFs.listStatus(ckptRoot).toSeq.filter(_.isDirectory)
            .filter(st => now - ckptNewestMtime(ckFs, st) >= graceMs)
            .map(st => org.apache.hadoop.fs.Path
              .getPathWithoutSchemeAndAuthority(st.getPath).toString)
        (orphans, deadCkpts, referenced.size.toLong)
      }
    // physical deletes AFTER lock release — a decided data orphan
    // cannot become referenced, so that delete pass races nothing and
    // an object-store-sized sweep never holds commits past the waiter
    // deadline
    orphans.sorted.foreach(deleteTree)
    // a decided-dead CHECKPOINT, unlike a data orphan, CAN come back
    // to life between the locked decide and this pass: a restart of
    // the same logical run legitimately reuses its run id (the
    // recovery path). Re-check activity immediately before each
    // delete — a revived run has written fresh offset files by now
    // and is skipped; the remaining window (recheck → delete) is
    // RPC-sized against a graceMs-sized contract.
    val ckptDropped = deadCkpts.sorted.count { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val dfs = p.getFileSystem(conf)
      val stillDead =
        try {
          val st = dfs.getFileStatus(p)
          System.currentTimeMillis() - ckptNewestMtime(dfs, st) >= graceMs
        } catch { case _: java.io.FileNotFoundException => false }
      if (stillDead) deleteTree(dir)
      stillDead
    }
    // tip recount AFTER the sweep — the referenced-dirs-survive proof
    val manifest = s.read.parquet(s"$root/manifest")
    val tip = manifest.agg(max(col("version"))).head.getLong(0)
    val tipDocs = manifest.filter(col("version") === tip)
      .select("path").distinct().collect().map(_.getString(0)).sorted
      .map(s.read.parquet(_)).reduce(_ unionByName _).count()
    Seq(("orphan_dirs_dropped", orphans.size.toLong),
      ("ckpt_runs_dropped", ckptDropped.toLong),
      ("referenced_dirs", referencedN),
      ("tip_docs", tipDocs)).toDF("metric", "value")
  }

  /** A settled 3-version root of its own (publish, admit, compact). */
  private val pipe21Setup: (SparkSession, String) => String =
    graft.functions.Memo.memoizedValue("pipeline.pipe21Setup",
        onEvict = deleteTree) { (s, d) =>
      val root = Migrate.tempDir("pipe21")
      pipe15PublishV1(s, d, root)
      admitShard(s,
        Tables.load(s, d, "documents").filter(col("doc_id") % 5 === 4),
        root, closeLoop = true)
      // derived, not pinned — see pipe20Setup
      val maxV = s.read.parquet(s"$root/manifest")
        .agg(max(col("version"))).head.getLong(0)
      ensureCompacted(s, root, maxV)
      root
    }

  graft.functions.Memo.memoWarmers.put("pipeline.pipe21Setup",
    (s: SparkSession, d: String) =>
      s.read.parquet(s"${pipe21Setup(s, d)}/manifest"))

  def pipe21OrphanSweep(s: SparkSession, d: String): DataFrame = {
    val root = pipe21Setup(s, d)
    // plant one crashed-writer staging dir per run: nonce-named,
    // never committed, exactly what a writer dying mid-stage leaves
    val nonce =
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    Tables.load(s, d, "documents").limit(7).write
      .parquet(s"$root/stage/v9_admitted_$nonce")
    removeOrphans(s, root, graceMs = 0L)
  }

  /** The settled root holds exactly 3 referenced dirs (v1 landing,
    * the admitted staging dir, the compacted rewrite); the planted
    * crashed-writer dir is the one orphan; no streaming run ever
    * checkpointed against this root, so zero dead checkpoint runs;
    * the tip is the compacted admitted corpus.
    */
  val pipe21Sql: String =
    s"""WITH $pipe15V2CtesSql
       |SELECT 'orphan_dirs_dropped' AS metric,
       |  CAST(1 AS BIGINT) AS value
       |UNION ALL
       |SELECT 'ckpt_runs_dropped', 0
       |UNION ALL
       |SELECT 'referenced_dirs', 3
       |UNION ALL
       |SELECT 'tip_docs', (SELECT CAST(count(*) AS BIGINT) FROM v2)"""
      .stripMargin

  /** pipe19: STREAMING ADMISSION — the pipe15 loop fed by Structured
    * Streaming, the shape a production corpus ingests in: shards
    * arrive as files on a watched directory, each micro-batch
    * (`maxFilesPerTrigger=1` — one shard per batch) is admitted
    * inside `foreachBatch` via [[admitShard]] with `closeLoop =
    * true`, so the versioned corpus advances one manifest version per
    * arriving shard, deduplicated against the fingerprint index AS OF
    * ITS ARRIVAL. foreachBatch is the right seam because admission is
    * not a row-wise sink — it is a transactional publish (stage,
    * audit, manifest append) that must see the whole shard.
    *
    * The report states ONLY order-invariant facts — final version,
    * final corpus size, total admitted, total rejected-duplicate —
    * because micro-batch ORDER is scheduler-chosen: which shard wins
    * a cross-shard duplicate fingerprint depends on arrival order,
    * but the SET of surviving fingerprints (distinct shard fps minus
    * published fps) and every count above do not. The oracle states
    * them from the raw corpus.
    *
    * 100 TB shape: per arriving shard the loop pays exactly pipe15's
    * metadata-only admission (index anti-join + shard-sized stage
    * write + bounded stat composition + manifest append); the stream
    * holds NO state of its own — the at-rest index/stats/manifest ARE
    * the state, which is what makes the ingest restartable from the
    * checkpoint without rebuilding anything.
    */
  /** One-time inputs (memoized, warmed): the base slice in a
    * read-only landing dir and the shard feed as one file per shard —
    * the parts of the run a production loop would find already
    * sitting on storage. Each timed run then pays exactly the
    * recurring cost: a metadata-only v1 publish against the landing
    * dir, the stream, and one admission per micro-batch.
    */
  private val Pipe19Schema = "doc_id LONG, text STRING, lang STRING, " +
    "source STRING, n_chars LONG"

  private[graft] val pipe19Inputs: (SparkSession, String) => String =
    graft.functions.Memo.memoizedValue("pipeline.pipe19Inputs",
        onEvict = deleteTree) { (s, d) =>
      val dir = Migrate.tempDir("pipe19_in")
      val docs = Tables.load(s, d, "documents")
      docs.filter(col("doc_id") % 5 <= 2)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/base")
      // two shards arrive as one file each (coalesce(1) + append)
      docs.filter(col("doc_id") % 5 === 3).coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$dir/feed")
      docs.filter(col("doc_id") % 5 === 4).coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$dir/feed")
      dir
    }

  graft.functions.Memo.memoWarmers.put("pipeline.pipe19Inputs",
    (s: SparkSession, d: String) => s.read.schema(Pipe19Schema)
      .parquet(s"${pipe19Inputs(s, d)}/feed"))

  def pipe19StreamingAdmission(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val in = pipe19Inputs(s, d)
    val (base, feed) = (s"$in/base", s"$in/feed")
    val root = Migrate.tempDir("pipe19")
    publishV1Meta(s, base, root)
    // per-batch audit rows accumulate driver-side (foreachBatch runs
    // on the driver; AvailableNow batches are sequential) — the final
    // report composes from THESE plus the at-rest v1 stats, so it
    // never re-reads the corpus it just published
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)] // (admitted, rejected, version)
    // an even smaller shuffle width than the shared streamSession's 8:
    // admission state is gate-row sized, and every one of the ~9
    // bounded actions per batch pays task-count overhead, not data
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    // the checkpoint is KEYED BY RUN ID under the root's ckpt/
    // namespace — the production layout pipe21's sweep expects: a
    // crashed-and-abandoned ingest's checkpoint dir is otherwise
    // unreachable garbage (never manifest-referenced). A RESTART of
    // the same logical run reuses its run id (that reuse IS the
    // recovery path — see the pipe19 fault spec); this query's runs
    // are independent, so each gets a fresh id.
    val runId =
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val q = ss.readStream
      .schema(Pipe19Schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)
      .writeStream
      .option("checkpointLocation", s"$root/ckpt/run_$runId")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val report = admitShard(batch.sparkSession, batch, root,
          closeLoop = true).collect()
        // read ONLY the accounting rows — gate rows carry NULL
        // value_x1e6 on zero-denominator audits (the empty corpus),
        // and Row.getLong on NULL throws
        def v(g: String): Long =
          report.find(_.getString(0) == g).get.getLong(1)
        // a gate-FAILED batch publishes nothing — its shard is held,
        // not decided (admitShard leaves the tip alone), so neither
        // its admitted nor its rejected rows enter the published
        // corpus's accounting. The REGISTERED query's oracle
        // (pipe19Sql) states final_version = 3 and full admission
        // accounting — i.e. it assumes every NON-EMPTY micro-batch
        // passes the WAP gates on the benchmark corpus (one
        // null/empty-text doc anywhere trips the zero-tolerance null
        // gate and holds the shard). Fail loudly AT THE OPERATOR on
        // a corpus change, not as an opaque oracle hash mismatch
        // downstream. Empty shards are exempt: the all-empty corpus
        // legitimately holds on the 0-denominator audit gates, and
        // holding an empty shard cannot desynchronize the accounting
        // (0 rows either way).
        val pass = report.find(_.getString(0) == "published_version")
          .get.getAs[Boolean]("pass")
        val nShard = v("admitted_new") + v("rejected_dup")
        require(pass || nShard == 0L,
          "pipe19: a non-empty micro-batch failed the admission " +
            "gates and its shard was held — pipe19Sql assumes every " +
            "non-empty batch passes on the benchmark corpus (see its " +
            "scaladoc)")
        acc += ((if (pass) v("admitted_new") else 0L,
          if (pass) v("rejected_dup") else 0L, v("published_version")))
        ()
      }
      .start()
    try require(q.awaitTermination(300000),
      "pipe19 stream did not terminate within 300 s")
    finally { graft.streaming.Cdc.dumpProgress("pipe19", q); q.stop() }
    val n1 = s.read.parquet(s"$root/stats/totals")
      .filter(col("version") <= 1L)
      .agg(coalesce(sum(col("n")), lit(0L))).head.getLong(0)
    val admitted = acc.map(_._1).sum
    val rows = Seq(
      ("final_version", if (acc.isEmpty) 1L else acc.map(_._3).max),
      ("n_docs_final", n1 + admitted),
      ("admitted_total", admitted),
      ("rejected_dup_total", acc.map(_._2).sum))
    deleteTree(root) // per-run scratch: report rows are local now
    rows.toDF("metric", "value")
  }

  /** The loop's order-invariant accounting from the raw corpus: the
    * surviving shard fingerprints are the distinct shard fps not in
    * the base — whichever shard arrives first.
    *
    * PRECONDITION (asserted in [[pipe19StreamingAdmission]]): every
    * non-empty micro-batch passes the WAP gates on the benchmark
    * corpus (empty shards may hold on the 0-denominator audit gates
    * without desynchronizing the accounting). The
    * hardcoded `final_version = 3` and the full admission accounting
    * below are only the loop's outcome when both shards PUBLISH; a
    * corpus with even one null/empty-text document trips the
    * zero-tolerance cumulative null gate, the engine holds the shard
    * (tip stays behind, admitted rows don't count), and the operator
    * raises instead of letting this SQL state a version that never
    * published.
    */
  val pipe19Sql: String = {
    val fp = "md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))"
    s"""WITH base AS (
       |  SELECT * FROM documents WHERE doc_id % 5 <= 2),
       |sh AS (SELECT * FROM documents WHERE doc_id % 5 IN (3, 4)),
       |basefp AS (SELECT DISTINCT $fp AS fp FROM base
       |  WHERE text IS NOT NULL AND length(text) > 0),
       |newfp AS (
       |  SELECT DISTINCT fp FROM (
       |    SELECT $fp AS fp FROM sh
       |    WHERE text IS NOT NULL AND length(text) > 0) t
       |  WHERE fp NOT IN (SELECT fp FROM basefp)),
       |acc AS (SELECT
       |  (SELECT count(*) FROM newfp) +
       |  (SELECT count(*) FROM sh
       |     WHERE text IS NULL OR length(text) = 0) AS admitted,
       |  (SELECT count(*) FROM base) AS n1,
       |  (SELECT count(*) FROM sh) AS nsh)
       |SELECT 'final_version' AS metric, CAST(3 AS BIGINT) AS value
       |UNION ALL
       |SELECT 'n_docs_final', n1 + admitted FROM acc
       |UNION ALL
       |SELECT 'admitted_total', admitted FROM acc
       |UNION ALL
       |SELECT 'rejected_dup_total', nsh - admitted FROM acc"""
      .stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("pipe2_migration", pipe2Migration, pipe2Sql),
    Query("pipe3_full_plus_incr", pipe3FullPlusIncr, pipe3Sql),
    Query("pipe14_wap_publish", pipe14WapPublish, pipe14Sql),
    Query("pipe15_incremental_wap", pipe15IncrementalWap, pipe15Sql),
    Query("pipe16_compaction_rewrite", pipe16CompactionRewrite, pipe16Sql),
    Query("pipe17_version_diff", pipe17VersionDiff, pipe17Sql),
    Query("pipe18_rollback_publish", pipe18RollbackPublish, pipe18Sql),
    Query("pipe19_streaming_admission", pipe19StreamingAdmission, pipe19Sql),
    Query("pipe20_snapshot_expire", pipe20SnapshotExpire, pipe20Sql),
    Query("pipe21_orphan_sweep", pipe21OrphanSweep, pipe21Sql))
}
