package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.functions.Norm
import graft.functions.Norm.{KLong, KStr, NormCol}
import graft.operators.Migrate.ChunkSpec
import graft.streaming.StreamRun

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

  /** A [[planFixedWidth]] plan over one integral key column: the
    * key's bounds, the key width `kw` and the chunk specs.
    */
  final case class KeyPlan(minKey: Long, maxKey: Long, kw: Long,
      chunks: Seq[ChunkSpec]) {
    /** The chunk id of column `key`: `(key - minKey) div kw`. `div`
      * (IntegralDivide), NOT `/`: Column `/` on longs is IEEE double
      * division, exact only below 2^53, which 100 TB key ranges
      * exceed. `div` is the exact integer math the DuckDB oracles'
      * `//` uses.
      */
    def chunkOf(key: String): Column =
      expr(s"(CAST(`$key` AS BIGINT) - ${minKey}L) div ${kw}L").cast("long")
  }

  /** Plans `df`'s rows on column `key` with one min/max/count job;
    * None when `df` is empty. `chunkRows` = 0 sizes chunks with
    * [[autoChunkRows]]. Unsplit, the plan is ONE chunk at least as
    * wide as both the key span and a quarter of `Long.MaxValue`, so
    * every key lands in chunk 0, including a compare target's keys
    * outside the source's bounds. Either way a key span past the Long
    * range fails loudly rather than wrapping into chunk ids outside
    * the plan.
    */
  def planKey(df: DataFrame, key: String, chunkRows: Long,
      split: Boolean = true): Option[KeyPlan] = {
    val r = df.agg(min(col(key)).cast("long"), max(col(key)).cast("long"),
      count(lit(1))).collect()(0)
    val cnt = r.getLong(2)
    if (cnt == 0) None
    else {
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      val span = mx - mn + 1
      require(span > 0, s"key span [$mn, $mx] exceeds the Long range")
      Some(
        if (!split)
          KeyPlan(mn, mx, math.max(Long.MaxValue / 4, span),
            Seq(ChunkSpec(0, mn, mx)))
        else {
          val (kw, chunks) = planFixedWidth(mn, mx, cnt,
            if (chunkRows > 0) chunkRows else autoChunkRows(cnt))
          KeyPlan(mn, mx, kw, chunks)
        })
    }
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
    * the default no-op. `split = false` migrates the table as one
    * chunk. Returns the compare report (one row per non-empty chunk).
    */
  def runMigration(s: SparkSession, d: String, workDir: String,
      task: String, chunkRows: Long = 0L, waveSize: Int = WaveSize,
      failpoint: String => Unit = _ => (),
      where: Option[String] = None,
      consistentRead: Boolean = false, split: Boolean = true): DataFrame = {
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
    val loaded = graft.sources.Snapshot.load(s, d, table, consistentRead)
    val src0 = where.foldLeft(loaded)((df, rg) => df.filter(expr(rg)))
    // chunkRows = 0 (default) auto-sizes to a bounded chunk COUNT.
    // Empty source: no plan. The reference treats an empty table as a
    // completed (trivial) task, not an error; the guard below stage 4
    // returns the empty summary after the target table is still
    // created.
    val plan = planKey(src0, keyCol, chunkRows, split)

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
    if (plan.isEmpty)
      return Compare.chunkSummary(exportDf.limit(0),
          lit(0L).cast("long"), normCols)
        .select(col("chunk_id"), col("n_rows"), col("row_checksum"),
          lit(true).as("matched"), lit(0L).as("n_fix"))
    val p = plan.get

    // ---- stage 5: ledger init / resume triage of the chunk plan
    failpoint("plan")
    val fs = new org.apache.hadoop.fs.Path(ledgerPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // a ledger created here holds exactly this plan, all WAITING: only
    // an existing one needs the resume triage's read-back
    val pending =
      if (fs.exists(new org.apache.hadoop.fs.Path(ledgerPath)))
        Ledger.pending(s, ledgerPath, task, table, p.chunks)
      else {
        Ledger.init(s, ledgerPath, task, table, p.chunks)
        p.chunks
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
      p.minKey, p.maxKey + 1, 8)
    val backSpool = s"${Migrate.tempDir("migrate_back")}/back"
    backJdbc.write.mode(SaveMode.Overwrite).parquet(backSpool)
    val back = s.read.parquet(backSpool)
    // XEngine variant: this stage's row_checksum lands in pipe2's
    // oracle-compared OUTPUT, so it must stay the md5 hash DuckDB
    // reproduces (the internal-compare call sites use the native-hash
    // chunkSummary)
    val srcSum = Compare.chunkSummaryXEngine(exportDf, p.chunkOf(keyCol),
      normCols)
    val tgtSum = Compare.chunkSummaryXEngine(back, p.chunkOf(keyCol),
      normCols)
      .withColumnRenamed("n_rows", "t_rows")
      .withColumnRenamed("row_checksum", "t_checksum")
    val diff = Compare.symmetricDiffCols(exportDf, back, normCols, keyCol)
    val fixes = Compare.fixActions(diff, tgtTable, keyCol, normCols)
    val fixPerChunk = fixes
      .groupBy(p.chunkOf("row_key").as("chunk_id"))
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

  /** pipe3: the reference's `all` task mode — full load THEN
    * incremental CDC apply (`module/migrate/sql/oracle/o2m/incr.go:61`,
    * dispatched after the full phase) — run as the `all` task mode
    * itself, from the reference's example config with `events`
    * selected. The oracle computes last-writer-wins over the base rows
    * at scn -1 and the change feed; the engine lands that state
    * through the REPLACE sink in a real JDBC target and reads it back.
    */
  def pipe3FullPlusIncr(s: SparkSession, d: String): DataFrame =
    TaskModes.runMode(s, "all", TransferdbConfig.knobs(
      TaskModes.ExampleConfigPortable +
        "\n[schema-config]\nsource-include-table = [\"events\"]\n"),
      d, outDir = "") // all lands in its state target, not outDir

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
    * what the job meant to write), and only a full-pass audit commits
    * the log entry that makes it the published version — readers
    * resolve the manifest pointer (s17's mechanism) and never see a
    * failed candidate. Published baseline = the prior snapshot (80%
    * of docs, doc_id % 5 ≠ 4); candidate = the full corpus. The
    * report is the audit plus the resulting published version, so the
    * hash gate pins gate arithmetic AND the promote/hold decision.
    * The only driver-side step is collecting the 4-row audit — the
    * same bounded planning collect every table format performs. Both
    * publishes are entries of the root's version log ([[commit]]).
    */
  def pipe14WapPublish(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = Migrate.tempDir("pipe14")
    val docs = Tables.load(s, d, "documents")
    docs.filter(col("doc_id") % 5 =!= 4)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/data/v1")
    val v1 = publish(s, root, WapLog(Nil),
      Publish(1L, Seq(s"$root/data/v1"), None), "pipe14")
    docs.write.mode(SaveMode.Overwrite).parquet(s"$root/stage/v2") // stage
    val audit = wapAudit(
      s.read.parquet(s"$root/data/v1"),
      s.read.parquet(s"$root/stage/v2"))
    val rows = audit.collect()
    val allPass = rows.nonEmpty && rows.forall(_.getAs[Boolean]("pass"))
    val version = // publish = ONE log entry; data files move never
      if (allPass)
        publish(s, root, v1, Publish(2L, Seq(s"$root/stage/v2"), None),
          "pipe14").tip
      else v1.tip
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

  private val wapFp: Column =
    md5(lower(regexp_replace(col("text"), "\\s+", " ")))
  private val wapHasText: Column =
    col("text").isNotNull && length(col("text")) > 0

  /** One entry of a WAP root's version log (`$root/manifest`, one
    * immutable file per log sequence number — Delta Lake's log
    * protocol, Armbrust et al., VLDB 2020). The log IS the manifest:
    * every publish, and every change to which versions are expired,
    * is one entry, and nothing is ever rewritten in place.
    */
  private[graft] sealed trait LogEntry

  /** Publish manifest `version` as the file set `paths`. `delta` is
    * the writer-unique dir holding this version's at-rest deltas
    * (`fp`: the new fingerprints, `totals`: one (n, nnull, nfp) row,
    * `lang`: (lang, c) counts), written BEFORE the entry commits so a
    * version's deltas never trail it. Versions that add no
    * fingerprints (compaction, rollback, a replay-only admission)
    * carry none.
    */
  private[graft] final case class Publish(version: Long,
      paths: Seq[String], delta: Option[String]) extends LogEntry

  /** Tombstone `expired` (the full, monotone set) under retention
    * `keepLast`. Takes a log sequence number but no manifest version.
    */
  private[graft] final case class Expire(expired: Set[Long],
      keepLast: Int) extends LogEntry

  /** A driver-side snapshot of the log: entry i has sequence number
    * i + 1, so `head` is the sequence number of the last entry. Every
    * WAP reader goes through this view; [[manifest]] renders its
    * (version, path) rows as a relation.
    */
  private[graft] final case class WapLog(entries: Seq[LogEntry]) {
    def head: Long = entries.size.toLong
    val publishes: Seq[Publish] = entries.collect { case p: Publish => p }
    def tip: Long = publishes.lastOption.fold(0L)(_.version)
    def versions: Seq[Long] = publishes.map(_.version)
    def rows: Seq[(Long, String)] =
      publishes.flatMap(p => p.paths.map(p.version -> _))
    def paths(v: Long): Seq[String] =
      publishes.find(_.version == v).fold(Seq.empty[String])(
        _.paths.distinct.sorted)
    def expired: Set[Long] =
      entries.collect { case e: Expire => e.expired }.flatten.toSet
    def keepLast: Option[Int] =
      entries.collect { case e: Expire => e.keepLast }.lastOption
    /** Delta dirs of every version up to `v` — what a pinned read of
      * the at-rest index/stats composes over.
      */
    def deltas(v: Long): Seq[String] =
      publishes.filter(_.version <= v).flatMap(_.delta)
  }

  /** Entries are tab-separated `key value` lines: the first line is
    * `publish <version>` or `expire <keepLast>`, then one `path`,
    * `delta` or `expired` line per value.
    */
  private def encodeEntry(e: LogEntry): String = (e match {
    case Publish(v, ps, d) =>
      s"publish\t$v" +: (ps.map("path\t" + _) ++ d.map("delta\t" + _))
    case Expire(vs, k) =>
      s"expire\t$k" +: vs.toSeq.sorted.map("expired\t" + _)
  }).mkString("", "\n", "\n")

  private def decodeEntry(name: String, text: String): LogEntry = {
    val kv = text.split('\n').toSeq.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      (l.take(i), l.drop(i + 1))
    }
    def all(k: String) = kv.collect { case (`k`, v) => v }
    kv.headOption match {
      case Some(("publish", v)) =>
        Publish(v.toLong, all("path"), all("delta").headOption)
      case Some(("expire", k)) =>
        Expire(all("expired").map(_.toLong).toSet, k.toInt)
      case other => throw new IllegalStateException(
        s"unreadable WAP log entry $name: $other")
    }
  }

  private def logDir(s: SparkSession, root: String) = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/manifest")
    (dir, dir.getFileSystem(s.sparkContext.hadoopConfiguration))
  }

  private def nonce(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** Read the root's whole log (empty when nothing was published).
    * Only all-digit names are entries; a writer's temp file never is.
    */
  private[graft] def readLog(s: SparkSession, root: String): WapLog = {
    val (dir, fs) = logDir(s, root)
    val named =
      try fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(p => p.getName.nonEmpty && p.getName.forall(_.isDigit))
        .sortBy(_.getName.toLong)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    // entries are created put-if-absent at head + 1 only, so the
    // numbers are 1..n by construction; a gap is a damaged log
    require(named.map(_.getName.toLong) == (1L to named.size.toLong),
      s"$root: the WAP log has a gap: ${named.map(_.getName)}")
    WapLog(named.map { p =>
      val in = fs.open(p)
      try decodeEntry(p.getName, new String(in.readAllBytes(), "UTF-8"))
      finally in.close()
    })
  }

  /** The manifest view as a (version, path) relation — one log read,
    * no Spark job.
    */
  private[graft] def manifest(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    readLog(s, root).rows.toDF("version", "path")
  }

  /** Write `e` as log entry `seq` if that entry does not exist yet —
    * the one atomic step of every commit. The entry is written in full
    * to a temp file first, so a reader never sees a partial entry.
    * A local root publishes it with `Files.createLink`, which fails
    * with EEXIST when the name exists. Any other scheme renames it on
    * the root's own FileSystem, whose rename does not overwrite an
    * existing file on HDFS (an object store swaps this one seam for
    * the catalog's compare-and-swap). The temp file is removed either
    * way; a writer that crashes before that leaves a dot-named file
    * that no reader parses and [[removeOrphans]] sweeps past grace.
    */
  private def tryPublish(s: SparkSession, root: String, seq: Long,
      e: LogEntry): Boolean = {
    val (dir, fs) = logDir(s, root)
    val name = f"$seq%020d"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.${nonce()}.tmp")
    val target = new org.apache.hadoop.fs.Path(dir, name)
    val bytes = encodeEntry(e).getBytes("UTF-8")
    if (fs.getScheme == "file") {
      def local(p: org.apache.hadoop.fs.Path) =
        java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
      java.nio.file.Files.createDirectories(local(dir))
      java.nio.file.Files.write(local(tmp), bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW)
      try { java.nio.file.Files.createLink(local(target), local(tmp)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally java.nio.file.Files.delete(local(tmp))
    } else {
      fs.mkdirs(dir)
      val out = fs.create(tmp, false)
      try out.write(bytes) finally out.close()
      val won =
        try fs.rename(tmp, target)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      if (!won) {
        fs.delete(tmp, false)
        if (!fs.exists(target)) throw new java.io.IOException(
          s"could not publish WAP log entry $target")
      }
      won
    }
  }

  /** The WAP commit: append one entry after `base`, the log snapshot
    * the writer staged against. Writers are optimistic — staging
    * (landing writes, compaction rewrites, audits, at-rest deltas)
    * runs with no coordination, and the commit is one put-if-absent of
    * entry `base.head + 1` ([[tryPublish]]). A writer that loses
    * re-reads the entries after its base: if any published a version,
    * it fails with a commit conflict, its staged files unreferenced
    * (Iceberg's commit-conflict semantics); if they only expired
    * versions, it retries at the new head. `entryAt` builds the entry
    * against the log it will follow and is re-run on each retry, so
    * checks that depend on expiry (a rollback's target, a vacuum's
    * retention) see every entry before the one they commit. `None`
    * commits nothing. Returns the log including the committed entry.
    */
  private def commit(s: SparkSession, root: String, base: WapLog,
      who: String)(entryAt: WapLog => Option[LogEntry]): WapLog = {
    def conflict(from: Long, to: Long) = new IllegalArgumentException(
      s"$who: commit conflict — the manifest tip moved from $from to " +
        s"$to while this writer staged (another writer published); " +
        "re-stage against the new tip")
    var at = base
    var out: Option[WapLog] = None
    while (out.isEmpty) entryAt(at) match {
      case None => out = Some(at)
      case Some(e) =>
        e match {
          case p: Publish if p.version != at.tip + 1 =>
            throw conflict(p.version - 1, at.tip)
          case _ =>
        }
        if (tryPublish(s, root, at.head + 1, e))
          out = Some(WapLog(at.entries :+ e))
        else {
          val now = readLog(s, root)
          if (now.entries.drop(at.entries.size)
              .exists(_.isInstanceOf[Publish]))
            throw conflict(at.tip, now.tip)
          at = now
        }
    }
    out.get
  }

  /** Commit one publish entry after `base` (see [[commit]]). */
  private[graft] def publish(s: SparkSession, root: String, base: WapLog,
      p: Publish, who: String): WapLog =
    commit(s, root, base, who)(_ => Some(p))

  private val AtRestSchema = Map(
    "fp" -> "fp STRING",
    "totals" -> "n BIGINT, nnull BIGINT, nfp BIGINT",
    "lang" -> "lang STRING, c BIGINT")

  /** At-rest relation `rel` (`fp`, `totals` or `lang`) as of version
    * `v`: the union of every delta published up to `v`. Additive —
    * every delta's fingerprints are new by the admission anti-join,
    * and counts just add.
    */
  private[graft] def atRest(s: SparkSession, log: WapLog, v: Long,
      rel: String): DataFrame =
    s.read.schema(AtRestSchema(rel))
      .parquet(log.deltas(v).map(d => s"$d/$rel"): _*)

  /** The publish-v1 half of pipe15, split on a caller-owned root so
    * the spec can snapshot the published files between phases and
    * assert staging never touches them (the s19 file-contract
    * pattern).
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

  /** Fail-fast double-publish guard: a root is published at most
    * once; increments go through [[admitShard]]. The authoritative
    * check is the first publish's commit, which only succeeds on an
    * empty log.
    */
  private def requireUnpublished(s: SparkSession, root: String): Unit =
    // no caller name in the message: this guard fires on BOTH publish
    // paths (publishBaseV1 and pipe19's publishV1Meta)
    require(readLog(s, root).tip == 0L,
      s"publish v1: $root already holds a manifest — publishing " +
        "v1 twice would double-count the at-rest index and stats; " +
        "admit increments via admitShard instead")

  /** Publish v1 as a manifest REFERENCE to an already-landed path,
    * plus its at-rest deltas: the fingerprint INDEX (one distinct fp
    * per non-empty payload — what admission anti-joins against) and
    * the audit STATS (one totals row + one row per language — what
    * the incremental audit's published side reads instead of
    * rescanning the corpus). The manifest-pointer model means even
    * the first publish is metadata-only when the corpus already sits
    * in a read-only landing dir (pipe19's case); [[publishBaseV1]] is
    * this plus the landing write. Two racing first publishes both
    * write their own delta dir; the commit admits one, and the loser
    * deletes its dir and fails with a commit conflict.
    */
  private[graft] def publishV1Meta(s: SparkSession, basePath: String,
      root: String, beforeCommit: () => Unit = () => ()): Unit = {
    requireUnpublished(s, root) // cheap fast-fail before any job runs
    val published = s.read.parquet(basePath)
    val delta = s"$root/delta/v1_${nonce()}"
    try {
      published.filter(wapHasText).select(wapFp.as("fp"))
        .distinct().write.parquet(s"$delta/fp")
      // coalesce the empty-corpus aggregates: sum over zero rows is
      // NULL, and a NULL stat would silently poison every composed
      // gate downstream instead of holding on rows_ratio's
      // 0-denominator
      published.agg(count(lit(1)).as("n"),
          coalesce(sum(when(!wapHasText, 1L).otherwise(0L)), lit(0L))
            .as("nnull"),
          countDistinct(when(wapHasText, wapFp)).as("nfp"))
        .write.parquet(s"$delta/totals")
      published.groupBy("lang").agg(count(lit(1)).as("c"))
        .write.parquet(s"$delta/lang")
      beforeCommit() // test seam: hold a racing first publish here
      publish(s, root, WapLog(Nil),
        Publish(1L, Seq(basePath), Some(delta)), "publishV1Meta")
    } catch { case e: Throwable => deleteTree(delta); throw e }
    ()
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
    * ALSO writes the admitted fingerprints, the admitted aggregates
    * and the per-language counts into a writer-unique delta dir that
    * its log entry names — written before the commit, so the NEXT
    * shard admits against the new version, still metadata-only (the
    * spec drives two increments through this). The registered query
    * replays the FIRST increment with `closeLoop = false` and the
    * base version pinned, because the bench re-samples queries and a
    * feedback delta would make the second sample admit against its
    * own output; the report rows are identical either way.
    *
    * `atVersion` pinning is real, not just replay detection: every
    * at-rest read composes the deltas of versions `<= prevV` only, so
    * admitting pinned-to-v on a root whose loop has since closed past
    * v still composes against exactly v's at-rest state.
    */
  private[graft] def admitShard(s: SparkSession, shard: DataFrame,
      root: String, closeLoop: Boolean,
      atVersion: Option[Long] = None,
      beforeCommit: () => Unit = () => (),
      beforeStage: () => Unit = () => ()): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // ONE log read serves the tip lookup, the at-rest reads, the
    // prior-path re-stamp and the commit's base
    val log = readLog(s, root)
    require(log.tip > 0L,
      s"admitShard: $root has no published manifest to admit against")
    val publishedMax = log.tip
    val prevV = atVersion.getOrElse(publishedMax)
    // pinning PAST the tip would read the full at-rest state (the
    // filters below pass everything) but re-stamp prior paths from a
    // manifest version that has zero rows — publishing a snapshot
    // that silently drops the whole published corpus
    require(prevV <= publishedMax,
      s"admitShard: atVersion=$prevV is not published (tip is " +
        s"$publishedMax) — a base version must exist to admit against")
    val idx = atRest(s, log, prevV, "fp")
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
    // corruption the manifest never records). The log records the
    // ACTUAL path at commit time, so no reader ever depends on the
    // name; the loser's staged dir is provably its own and is
    // deleted on conflict.
    val id = nonce()
    val stagePath = s"$root/stage/v${nextV}_admitted_$id"
    // A pinned-version REPLAY whose target version is already
    // published must not touch it: rewriting a published staging dir
    // after the manifest published it would tear the snapshot for a
    // reader resolving it mid-rewrite, and re-publishing it would
    // grow the log per replay. The replay still performs the FULL
    // staging write (it is part of the per-shard cost the bench
    // measures) — to a scratch path the manifest never references;
    // only the publish is skipped.
    val isReplay = atVersion.isDefined && publishedMax >= nextV
    val writePath =
      if (isReplay) s"$root/stage/v${nextV}_replay_$id" else stagePath
    // staging = write ONLY the admitted shard rows; published files
    // are referenced, never copied
    beforeStage() // test seam: park a loser so its STAGING write runs
                  // after another writer's commit (the interleaving
                  // the writer-unique path exists for)
    kept.write.mode(SaveMode.Overwrite).parquet(writePath)
    val admitted = s.read.parquet(writePath)
    // compose the audit aggregates: persisted publish-time stats
    // (summed across all prior increments) + admitted-side
    // aggregates. Both relations are BOUNDED (one totals row, one row
    // per lang), so each is COLLECTED once and handed to [[wapGates]]
    // as a local relation: the gate union references its inputs once
    // per gate row, and admission's cost is per-ACTION scheduling,
    // not data — one pass also carries the shard/admitted accounting.
    val totalsRow = atRest(s, log, prevV, "totals")
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
    val pubLang = atRest(s, log, prevV, "lang")
      .groupBy("lang").agg(sum(col("c")).as("c1"))
    val stagedLang = pubLang.select(col("lang"), col("c1").as("c"))
      .unionByName(admitted.groupBy("lang").agg(count(lit(1)).as("c")))
      .groupBy("lang").agg(sum(col("c")).as("c2"))
    // keep the lang KEY through the collect: the same bounded rows
    // feed the gates (c1, c2) AND reconstruct the admitted per-lang
    // delta for the closeLoop delta — Σc2 − Σc1 per lang key (the
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
    if (allPass && !isReplay) {
      val delta = if (closeLoop) Some(s"$root/delta/v${nextV}_$id") else None
      // a loser (conflict or any failure before the commit lands)
      // deletes its staged shard and its deltas — both nonce-named,
      // so provably its own and never a published path
      try {
        delta.foreach { dir =>
          admitted.filter(wapHasText).select(wapFp.as("fp"))
            .write.parquet(s"$dir/fp")
          // the totals and per-lang deltas are already in hand from
          // the audit's own pass — write the local rows, never re-scan
          Seq((nKept, totalsRow.getAs[Long]("knull")))
            .toDF("n", "nnull")
            .select(col("n"), col("nnull"), (col("n") - col("nnull")).as("nfp"))
            .write.parquet(s"$dir/totals")
          langRows.toSeq
            .groupBy(r => Option(r.getString(0)))
            .map { case (lang, rs) =>
              (lang.orNull, rs.map(_.getLong(2)).sum - rs.map(_.getLong(1)).sum)
            }
            .filter(_._2 > 0L).toSeq
            .toDF("lang", "c")
            .write.parquet(s"$dir/lang")
        }
        beforeCommit() // test seam: widen the stage→commit race window
        // the tip this admission staged against must still be the
        // tip — a concurrent writer (compaction, another admission)
        // that published first wins, this one errors
        publish(s, root, log,
          Publish(nextV, log.paths(prevV) :+ stagePath, delta), "admitShard")
      } catch { case e: Throwable =>
        deleteTree(stagePath); delta.foreach(deleteTree); throw e
      }
    }
    // the replay scratch is never referenced again (the manifest
    // never points at it and the report below is a local relation of
    // already-collected rows) — drop it eagerly instead of letting
    // per-replay parquet dirs accumulate until the JVM-exit sweep
    if (isReplay) deleteTree(writePath)
    // the published version needs no log re-read: a passing
    // non-replay admission committed exactly nextV (nextV = prevV + 1
    // > publishedMax held by the require above on the non-replay
    // path), anything else left the tip alone
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
    * deltas off so the replay is idempotent (see [[admitShard]]).
    */
  private[graft] def pipe15Admit(s: SparkSession, d: String,
      root: String): DataFrame =
    admitShard(s,
      Tables.load(s, d, "documents").filter(col("doc_id") % 5 === 4),
      root, closeLoop = false, atVersion = Some(1L))

  /** The shutdown sweep's recursive delete ([[Migrate.deleteTree]]),
    * applied eagerly to scratch that is provably unreferenced —
    * replay stage dirs, conflict losers' dirs and purged roots.
    */
  private def deleteTree(dir: String): Unit = Migrate.deleteTree(dir)

  /** The published snapshot (data files, at-rest deltas, v1 log
    * entry) is a ONE-TIME artifact per corpus — d8/d19's
    * persisted-index discipline, so the registered query measures
    * ADMISSION (the recurring per-shard cost a production loop pays),
    * and the publish is a memoized setup warmed through the registry
    * like every other shared relation. The first admission on the
    * memoized root publishes v2; every later one is a pinned replay
    * that publishes nothing, so re-running is hash-stable.
    *
    * Eviction (purge or stopped session) deletes the root's tree:
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
    (s: SparkSession, d: String) => manifest(s, pipe15Root(s, d)))

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
    * rescanned), and only a full pass commits the log entry that
    * makes (v1 files + admitted files) the published v2. The report carries the audit,
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
    * `closeLoop = true`): a passing publish writes the admitted
    * fingerprints and aggregates as a per-version delta (d19's
    * incremental band-index pattern; additive — every delta's
    * fingerprints are new) and commits the re-stamped paths, so the
    * NEXT shard admits against the new version with the same
    * metadata-only cost; the spec drives two consecutive increments
    * through it.
    */
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

  /** Target output file size of a compaction rewrite. */
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
      (root, readLog(s, root).tip)
    }

  graft.functions.Memo.memoWarmers.put("pipeline.pipe16Setup",
    (s: SparkSession, d: String) => {
      val (root, fromV) = pipe16Setup(s, d)
      // settle the root at its 3-version layout up front: pipe16's
      // timed figure is then always the replay-rewrite (its actual
      // recurring cost) and pipe17's never includes a publish
      ensureCompacted(s, root, fromV)
      manifest(s, root)
    })

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

  /** Rewrite version `fromV`'s file set into size-targeted files and
    * publish as `fromV + 1`; report (version, n_docs, row_checksum)
    * for both versions.
    */
  private[graft] def compactVersion(s: SparkSession, root: String,
      fromV: Long, beforeCommit: () => Unit = () => (),
      beforeStage: () => Unit = () => ()): DataFrame = {
    val log = readLog(s, root)
    val fromPaths = log.paths(fromV)
    require(fromPaths.nonEmpty, s"version $fromV is not published")
    val from = fromPaths.map(s.read.parquet(_)).reduce(_ unionByName _)
    val nextV = fromV + 1
    val publishedMax = log.tip
    // WRITER-UNIQUE rewrite dir (the admitShard staging discipline):
    // two compactions racing from the same fromV both pass the tip
    // guard below — with a shared deterministic data/v{N}_compact the
    // loser would overwrite the winner's PUBLISHED rewrite and then
    // deleteTree it in its conflict handler, leaving the manifest's
    // v{N} pointing at nothing (published data loss). Each writer
    // rewrites into its own dir, commits ITS path, and on conflict
    // deletes only what it alone wrote; the log records the actual
    // path so no reader depends on the name.
    val targetPrefix = s"$root/data/v${nextV}_compact"
    val target = s"${targetPrefix}_${nonce()}"
    // a replay is "A compaction of fromV already published": version
    // nextV exists AND points at a compacted dir (prefix match — the
    // nonce differs per writer, and any committed rewrite of the same
    // deterministic input is content-identical). publishedMax alone
    // would misread compacting a NON-TIP version as a replay (nextV
    // published by some other writer kind, no compacted dir) and then
    // summarize a path that doesn't exist — that case is a fork, and
    // it fails fast instead
    val committedCompact = log.paths(nextV).filter(_.startsWith(targetPrefix))
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
      // losing the commit to a concurrent admission errors here with
      // the rewrite unreferenced — delete it so the loser leaves no
      // orphan (safe: the nonce makes writePath this writer's own,
      // never one another writer could have published)
      try publish(s, root, log, Publish(nextV, Seq(target), None),
        "compactVersion")
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
    * is one log entry — s13's size-targeted compaction lifted to
    * manifest-versioned semantics.
    */
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
    if (readLog(s, root).paths(fromV + 1).isEmpty) {
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
    val log = readLog(s, root)
    val versions = log.versions.toArray
    def resolve(v: Long): DataFrame =
      log.paths(v).map(s.read.parquet(_)).reduce(_ unionByName _)
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
    * undone by ONE log entry that re-stamps the target
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
      val maxV = readLog(s, root).tip
      ensureCompacted(s, root, maxV)
      (root, maxV + 1)
    }

  graft.functions.Memo.memoWarmers.put("pipeline.pipe18Setup",
    (s: SparkSession, d: String) => manifest(s, pipe18Setup(s, d)._1))

  /** Publish `toV` as a re-stamp of `targetV`'s paths; idempotent on
    * replay (the bench re-samples), fail-fast on a fork (`toV`
    * published by another writer with different paths).
    */
  private[graft] def rollbackTo(s: SparkSession, root: String,
      targetV: Long, toV: Long,
      beforeCommit: () => Unit = () => ()): DataFrame = {
    val log = readLog(s, root)
    val target = log.paths(targetV)
    require(target.nonEmpty, s"rollbackTo: version $targetV is not published")
    // an EXPIRED version must not come back as the tip: pipe20's
    // vacuum deleted the dirs only it referenced, so re-stamping its
    // paths would publish a version that silently fails to resolve.
    // Checked here to fail fast, and again inside the commit against
    // every entry before the one the rollback publishes — so a vacuum
    // that expires the target while the rollback is parked makes the
    // rollback fail instead of publishing a dangling snapshot
    def requireNotExpired(at: WapLog): Unit =
      require(!at.expired(targetV),
        s"rollbackTo: version $targetV is expired — its unreferenced " +
          "files were vacuumed and its snapshot cannot be re-published")
    requireNotExpired(log)
    val existing = log.paths(toV)
    val now =
      if (existing.isEmpty) {
        beforeCommit() // test seam: widen the observe→commit race window
        // a rollback publishes THE NEXT version, so the tip it
        // observed must still be toV - 1 — losing a race to a
        // concurrent writer errors instead of forking the manifest
        commit(s, root, log, "rollbackTo") { at =>
          requireNotExpired(at)
          Some(Publish(toV, target, None))
        }
      } else {
        require(existing == target,
          s"rollbackTo: version $toV is already published with a " +
            "different file set (fork) — refusing to re-stamp it as a " +
            "rollback")
        log
      }
    val chkCols = docChkCols
    val shared = now.paths(toV) == target
    def row(v: Long) =
      now.paths(v).map(s.read.parquet(_)).reduce(_ unionByName _)
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
    * AFTER the deletes and counting its docs. Expiry is one expire
    * entry in the root's log, committed like any publish, so no
    * publish entry is ever rewritten; the at-rest deltas of expired
    * versions remain (they are bounded metadata that later pinned
    * admissions still compose against).
    *
    * Retention is part of that entry: the first vacuum records
    * `keepLast`, and a later vacuum with a different value fails
    * (`conflicting retention`) unless it passes `updatePolicy = true`
    * — two vacuums with conflicting windows cannot both hold. Expiry
    * is MONOTONE: once tombstoned, a version stays expired even under
    * a later, wider retention (its unreferenced dirs are already
    * gone, and un-tombstoning it would let a rollback re-stamp a
    * snapshot that no longer resolves). The tip is never tombstoned:
    * keepLast >= 1 and the manifest only grows.
    *
    * Report: one row per manifest version — (version, is_live,
    * n_dirs_dropped, n_docs), with n_docs = −1 for expired versions
    * (no longer resolvable) and the post-delete recount for live
    * ones. On the settled 4-version root the oracle states the whole
    * story from the raw corpus: v1/v2 expire, ONLY v2's staging dir
    * is dropped (data/v1 is shared with the live rollback v4 and must
    * survive), v3 recounts to the admitted corpus, v4 to the base.
    *
    * Idempotent by construction: a replay computes the same tombstone
    * set and retention, commits nothing, re-deletes already-gone dirs
    * (no-op), and recounts the same live versions.
    *
    * 100 TB shape: pure manifest arithmetic — one log read decides
    * the safe-to-delete set (set difference over path strings, never
    * a data scan); deletes are O(dirs); the only data pass is the
    * report's recount, which a production vacuum skips (here it IS
    * the safety proof the oracle hashes).
    */
  private[graft] def expireVersions(s: SparkSession, root: String,
      keepLast: Int, updatePolicy: Boolean = false): DataFrame = {
    import s.implicits._
    require(keepLast >= 1,
      "expireVersions: must keep at least the tip version")
    val base = readLog(s, root)
    require(base.tip > 0L, s"expireVersions: $root has no published manifest")
    // the decision is made against the log the entry follows: a
    // vacuum that loses to another vacuum re-decides (and re-checks
    // retention) at the new head; one that loses to a publish fails
    // with a commit conflict, so a rollback that commits first makes
    // its target's dirs live-referenced, and one that commits after
    // sees the tombstone
    val log = commit(s, root, base, "expireVersions") { at =>
      at.keepLast match {
        case Some(rec) if rec != keepLast && !updatePolicy =>
          throw new IllegalArgumentException(
            s"expireVersions: conflicting retention — $root is " +
              s"pinned to keepLast=$rec (set at its first vacuum); " +
              s"got keepLast=$keepLast. Pass updatePolicy=true for " +
              "a deliberate serial retention change.")
        case _ =>
      }
      val live = at.versions.takeRight(keepLast).toSet -- at.expired
      val expired = at.versions.toSet -- live
      if (expired == at.expired && at.keepLast.contains(keepLast)) None
      else Some(Expire(expired, keepLast))
    }
    val live = log.versions.toSet -- log.expired
    val liveP = log.rows.filter(t => live(t._1)).map(_._2).toSet
    // safe-to-delete = referenced by SOME expired version and NO
    // live one; anything shared with a live version survives
    val expP = log.rows.filterNot(t => live(t._1)).map(_._2).toSet -- liveP
    // the tombstones are durable before the deletes: a crash between
    // them leaves tombstoned-but-present dirs that a replay
    // re-deletes, and no later commit can reference an expired-only
    // dir (commits only add paths their own writer staged under a
    // fresh nonce, or re-stamp a version that is not expired)
    expP.toSeq.sorted.foreach(deleteTree)
    log.versions.map { v =>
      val vPaths = log.paths(v)
      val nDocs =
        if (live(v)) // resolve AFTER the deletes — the safety proof
          vPaths.map(s.read.parquet(_)).reduce(_ unionByName _).count()
        else -1L
      (v, live(v), vPaths.count(expP).toLong, nDocs)
    }.toDF("version", "is_live", "n_dirs_dropped", "n_docs")
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
      val maxV = readLog(s, root).tip
      ensureCompacted(s, root, maxV)
      rollbackTo(s, root, targetV = 1L, toV = maxV + 2)
      root
    }

  graft.functions.Memo.memoWarmers.put("pipeline.pipe20Setup",
    (s: SparkSession, d: String) => manifest(s, pipe20Setup(s, d)))

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

  /** pipe21: ORPHAN-DIRECTORY SWEEP — the other half of the storage
    * garbage collector (Iceberg's `remove_orphan_files`): a writer
    * that CRASHED between staging and commit leaves its writer-unique
    * dirs behind with no log reference and no conflict handler to
    * sweep them — on a real deployment those accumulate forever. The
    * sweep lists only the writer-staged namespaces (`stage/`, `data/`
    * and the at-rest `delta/`), subtracts every path and delta dir one
    * log snapshot references, and deletes what remains IF it is older
    * than `graceMs`. The grace period is the safety contract: a LIVE
    * writer's staged dirs are also unreferenced until its commit, so
    * production grace must exceed the longest stage→commit window
    * (Iceberg defaults to days). A decided orphan can never become
    * referenced — commits only add paths their own writer staged
    * under a fresh nonce — so the deletes race nothing. Dot-named
    * temp entries a crashed committer left in the log dir go the same
    * way. `referenced_dirs` counts data dirs only.
    *
    * The sweep also garbage-collects CRASHED STREAMING-ADMISSION
    * CHECKPOINTS: a pipe19-style ingest keys its Structured Streaming
    * checkpoint by run id under `ckpt/<runId>`, and a run that
    * crashed and was abandoned leaks that dir forever (it is never
    * log-referenced, so the namespace subtraction cannot see it).
    * Liveness is ACTIVITY, not reference: every micro-batch writes a
    * new offsets/commits file — a run dir whose newest activity
    * ([[ckptNewestMtime]]) is older than `graceMs` is a dead run; a
    * live or merely parked stream stays inside grace. A swept run id
    * can always be re-ingested from the at-rest index (admission is
    * content-idempotent), so over-sweeping an
    * abandoned-but-restartable run loses no data, only its stream
    * position.
    *
    * The registered query PLANTS one crashed-writer dir and sweeps
    * with grace 0 each run (the replayable-cost pattern pipe16 uses
    * for its rewrite), so the report — orphans dropped, referenced
    * dirs, tip recount after the sweep — is deterministic under the
    * bench's re-sampling.
    *
    * 100 TB shape: one log read + one directory listing per namespace
    * (NOT a recursive file walk — staged dirs are the unit of both
    * commit and cleanup); deletes are O(orphans); the tip recount is
    * the safety proof, skippable in production.
    */
  private[graft] def removeOrphans(s: SparkSession, root: String,
      graceMs: Long): DataFrame = {
    import s.implicits._
    import org.apache.hadoop.fs.Path
    val conf = s.sparkContext.hadoopConfiguration
    // BOTH sides of the membership test are scheme-stripped: on an
    // hdfs:// root the log records scheme-qualified paths while
    // listStatus yields qualified ones too — comparing a stripped
    // listing against raw log strings would make every referenced
    // dir look orphaned (a sweep that deletes the corpus)
    def norm(p: Path): String = Path.getPathWithoutSchemeAndAuthority(p).toString
    val log = readLog(s, root)
    require(log.tip > 0L, s"removeOrphans: $root has no published manifest")
    val referenced = log.rows.map(t => norm(new Path(t._2))).toSet
    val referencedDeltas =
      log.publishes.flatMap(_.delta).map(d => norm(new Path(d))).toSet
    val now = System.currentTimeMillis()
    def stale(st: org.apache.hadoop.fs.FileStatus) =
      now - st.getModificationTime >= graceMs
    val orphans = Seq("stage", "data", "delta").flatMap { ns =>
      val nsPath = new Path(s"$root/$ns")
      val fs = nsPath.getFileSystem(conf)
      if (!fs.exists(nsPath)) Seq.empty
      else fs.listStatus(nsPath).toSeq.filter(_.isDirectory)
        .map(st => (norm(st.getPath), st))
        .filterNot(t => referenced(t._1) || referencedDeltas(t._1))
        .filter(t => stale(t._2)).map(_._1)
    }
    // dead streaming checkpoints: run-id dirs under ckpt/ with no
    // write activity inside grace — see ckptNewestMtime for why
    // activity is read off FILE mtimes two levels deep
    val ckptRoot = new Path(s"$root/ckpt")
    val ckFs = ckptRoot.getFileSystem(conf)
    val deadCkpts =
      if (!ckFs.exists(ckptRoot)) Seq.empty[String]
      else ckFs.listStatus(ckptRoot).toSeq.filter(_.isDirectory)
        .filter(st => now - ckptNewestMtime(ckFs, st) >= graceMs)
        .map(st => norm(st.getPath))
    orphans.sorted.foreach(deleteTree)
    val (dir, logFs) = logDir(s, root)
    logFs.listStatus(dir).filter(st =>
        st.getPath.getName.startsWith(".") &&
          st.getPath.getName.endsWith(".tmp") && stale(st))
      .foreach(st => logFs.delete(st.getPath, false))
    // a decided-dead CHECKPOINT, unlike a data orphan, CAN come back
    // to life between the decide and this pass: a restart of the same
    // logical run legitimately reuses its run id (the recovery path).
    // Re-check activity immediately before each delete — a revived
    // run has written fresh offset files by now and is skipped; the
    // remaining window (recheck → delete) is RPC-sized against a
    // graceMs-sized contract.
    val ckptDropped = deadCkpts.sorted.count { dir =>
      val p = new Path(dir)
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
    val tipDocs = log.paths(log.tip).map(s.read.parquet(_))
      .reduce(_ unionByName _).count()
    Seq(("orphan_dirs_dropped", orphans.size.toLong),
      ("ckpt_runs_dropped", ckptDropped.toLong),
      ("referenced_dirs", referenced.size.toLong),
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
      ensureCompacted(s, root, readLog(s, root).tip)
      root
    }

  graft.functions.Memo.memoWarmers.put("pipeline.pipe21Setup",
    (s: SparkSession, d: String) => manifest(s, pipe21Setup(s, d)))

  def pipe21OrphanSweep(s: SparkSession, d: String): DataFrame = {
    val root = pipe21Setup(s, d)
    // plant one crashed-writer staging dir per run: nonce-named,
    // never committed, exactly what a writer dying mid-stage leaves
    Tables.load(s, d, "documents").limit(7).write
      .parquet(s"$root/stage/v9_admitted_${nonce()}")
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

  private val Pipe19Schema = "doc_id LONG, text STRING, lang STRING, " +
    "source STRING, n_chars LONG"

  /** One-time inputs (memoized, warmed): the base slice in a
    * read-only landing dir and the shard feed as one file per shard —
    * the parts of the run a production loop would find already
    * sitting on storage. Each timed run then pays exactly the
    * recurring cost: a metadata-only v1 publish against the landing
    * dir, the stream, and one admission per micro-batch.
    */
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

  /** pipe19: STREAMING ADMISSION — the pipe15 loop fed by Structured
    * Streaming, the shape a production corpus ingests in: shards
    * arrive as files on a watched directory, each micro-batch
    * (`maxFilesPerTrigger=1` — one shard per batch) is admitted
    * inside `foreachBatch` via [[admitShard]] with `closeLoop =
    * true`, so the versioned corpus advances one manifest version per
    * arriving shard, deduplicated against the fingerprint index AS OF
    * ITS ARRIVAL. foreachBatch is the right seam because admission is
    * not a row-wise sink — it is a transactional publish (stage,
    * audit, log commit) that must see the whole shard.
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
    * write + bounded stat composition + one log entry); the stream
    * holds NO state of its own — the at-rest deltas and the log ARE
    * the state, which is what makes the ingest restartable from the
    * checkpoint without rebuilding anything.
    */
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
    // an even smaller shuffle width than the other arms' 4:
    // admission state is gate-row sized, and every one of the ~9
    // bounded actions per batch pays task-count overhead, not data
    val ss = StreamRun.session(s, width = 2)
    // the checkpoint is KEYED BY RUN ID under the root's ckpt/
    // namespace — the production layout pipe21's sweep expects: a
    // crashed-and-abandoned ingest's checkpoint dir is otherwise
    // unreachable garbage (never manifest-referenced). A RESTART of
    // the same logical run reuses its run id (that reuse IS the
    // recovery path — see the pipe19 fault spec); this query's runs
    // are independent, so each gets a fresh id.
    val runId = nonce()
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
    StreamRun.await("pipe19", q)
    val n1 = atRest(s, readLog(s, root), 1L, "totals")
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
