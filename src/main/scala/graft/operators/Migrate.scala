package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Tables}
import graft.functions.Norm
import graft.functions.Norm._

/** Snapshot ETL engine — the reference's `full` and `csv` modes
  * (`module/migrate/sql/oracle/o2m/full.go`, `csv/oracle/o2m/csv.go`),
  * Spark-first.
  *
  * The reference plans ROWID/numeric chunks into a MySQL meta table
  * and runs a 3-stage channel pipeline per chunk. In Spark the "plan"
  * is just partitioning: file sources split by row-group; JDBC sources
  * take `partitionColumn/lowerBound/upperBound/numPartitions` — the
  * exact analogue of CREATE_CHUNKS_BY_NUMBER_COL. [[planChunks]] keeps
  * chunk planning as an explicit, testable step for sources that need
  * predicate-ranged reads; execution is one declarative
  * read→project→write with no driver-side row handling.
  *
  * Snapshot consistency (S3, AS OF SCN): a Spark job reads one
  * immutable file-set listing — within a job all partitions see one
  * snapshot; cross-run pinning is the caller handing in a versioned
  * path (Delta/Iceberg time travel when available).
  */
object Migrate {

  /** Numeric-range chunk: `col BETWEEN lower AND upper` (inclusive),
    * mirroring DBMS_PARALLEL_EXECUTE chunk WHERE-strings
    * (`database/oracle/full.go:86`).
    */
  final case class ChunkSpec(id: Int, lower: Long, upper: Long) {
    def predicate(colName: String): String =
      s"$colName BETWEEN $lower AND $upper"
  }

  /** Upper bound on planned chunk COUNT (2^20 ≈ 1M ranged predicates):
    * a chunk plan is a bounded driver-side artifact (the reference's
    * `user_tabs`-driven chunk metadata is likewise a meta-DB table);
    * a plan that wants billions of chunks is a mis-sized chunkRows,
    * and widening chunks beyond the target degrades resume
    * granularity gracefully instead of materializing an unbounded Seq
    * (or, worse, truncating the count through Int and planning ZERO
    * chunks for a non-empty table).
    */
  val MaxPlannedChunks = 1L << 20

  /** Split [min,max] into ranges of ~chunkRows by key density
    * (assumes roughly uniform keys, like the reference's
    * CREATE_CHUNKS_BY_NUMBER_COL; skew is handled at execution time by
    * AQE, not at planning time). Pure — property-tested.
    */
  def planChunks(minKey: Long, maxKey: Long, totalRows: Long,
      chunkRows: Long): Seq[ChunkSpec] = {
    require(chunkRows > 0, "chunkRows must be positive")
    if (totalRows <= 0 || maxKey < minKey) return Seq.empty
    val span = maxKey - minKey + 1
    require(span > 0, s"key span [$minKey, $maxKey] exceeds the Long range")
    val nChunks =
      math.max(1L, totalRows / chunkRows +
        (if (totalRows % chunkRows == 0) 0L else 1L))
    // chunk plans are driver-side Seqs consumed as ranged predicates —
    // cap the COUNT, not the data: past the cap chunks simply get
    // wider than the chunkRows target (chunkRows is best-effort by
    // contract, "~chunkRows"), which also keeps the Long→Int
    // conversion exact (a bare .toInt of >2^31 chunks truncated to 0
    // or negative and emitted an empty plan for a non-empty table)
    val n = math.min(math.min(nChunks, span), MaxPlannedChunks).toInt
    // boundary i is floor(span * i / n), decomposed as
    // q*i + (r*i)/n with span = q*n + r: the direct product span*i
    // overflows Long for spans >= 2^52 with thousands of chunks —
    // exactly a 100 TB surrogate-key plan — while q*i <= span and
    // r*i < n^2 <= 2^62 cannot
    val q = span / n
    val r = span % n
    def bound(i: Long): Long = minKey + q * i + r * i / n
    // last chunk's upper is pinned to maxKey directly: bound(n) =
    // minKey + span transiently overflows Long when maxKey ==
    // Long.MaxValue (bound(n) - 1 would still land right via
    // two's-complement wraparound, but correctness should not hang on
    // that; property-tested at the pinned extreme)
    (0 until n).map { i =>
      ChunkSpec(i, bound(i),
        if (i == n - 1) maxKey else bound(i + 1L) - 1)
    }
  }

  /** Type-directed export projection (P1): every column is rendered to
    * its canonical migration form, per the reference's per-Oracle-type
    * SELECT list (`full.go:885-948`): timestamps → formatted strings,
    * floating money → exact decimals, integrals widened to long.
    * Binary would pass through untouched (BinaryType).
    *
    * Floating columns take their DECIMAL(p,s) from `decimalSpec` —
    * the reference maps per declared Oracle NUMBER precision/scale,
    * never one blanket scale (a hardcoded (18,2) silently truncates
    * >2-decimal values and NULLs magnitudes past 16 integer digits).
    * Columns absent from the spec pass through as raw doubles, with
    * the caller owning the canonical rendering.
    */
  def exportProjection(schema: StructType,
      decimalSpec: Map[String, (Int, Int)] = Map.empty): Seq[Column] =
    schema.fields.toSeq.map { f =>
      f.dataType match {
        case TimestampType | TimestampNTZType =>
          date_format(col(f.name), "yyyy-MM-dd HH:mm:ss").as(f.name)
        case DoubleType | FloatType if decimalSpec.contains(f.name) =>
          val (p, sc) = decimalSpec(f.name)
          col(f.name).cast(DecimalType(p, sc)).cast("string").as(f.name)
        case ByteType | ShortType | IntegerType | LongType =>
          col(f.name).cast("long").as(f.name)
        case _ => col(f.name)
      }
    }

  /** CSV sink options mirroring the reference's configurable separator/
    * terminator/delimiter/null/escape (`config/config.go:159-176`,
    * escaping `common/strings.go:540-560`).
    */
  val csvOptions: Map[String, String] = Map(
    "header" -> "true", "sep" -> ",", "quote" -> "\"",
    "escape" -> "\\", "nullValue" -> "\\N",
    // keep values byte-exact: Spark's CSV writer trims by default
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false")

  /** Full-table migrate: read → project → sink. `overwrite` is the
    * reference's truncate-before-load (S10).
    */
  def run(df: DataFrame, sink: String, format: String = "parquet",
      options: Map[String, String] = Map.empty): Unit =
    df.write.mode(SaveMode.Overwrite).format(format)
      .options(options).save(sink)

  // ----------------------------------------------------------- JDBC path

  /** Batched JDBC sink (S7) — the reference's prepared multi-row
    * `REPLACE INTO` with `insert-batch-size` bind groups
    * (`module/migrate/sql/oracle/o2m/translate.go:34-145`,
    * `example/config.toml:22` batch=100) maps to the JDBC writer's
    * `batchsize`; `Overwrite` is truncate-before-load (S10).
    * `createTableColumnTypes` carries the reverse-engine type mapping
    * into the target DDL.
    */
  def runJdbc(df: DataFrame, url: String, table: String,
      batchSize: Int = 100,
      columnTypes: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize)
    columnTypes.fold(w)(ct => w.option("createTableColumnTypes", ct)).save()
  }

  /** Chunked JDBC scan (S1/S2) — `partitionColumn/lowerBound/
    * upperBound/numPartitions` is the exact Spark analogue of
    * `DBMS_PARALLEL_EXECUTE.CREATE_CHUNKS_BY_NUMBER_COL`
    * (`database/oracle/compare.go:105-132`): each partition issues one
    * ranged query, all partitions read concurrently.
    */
  def readJdbcChunked(s: SparkSession, url: String, table: String,
      partCol: String, lower: Long, upper: Long,
      numPartitions: Int): DataFrame =
    s.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partCol)
      .option("lowerBound", lower).option("upperBound", upper)
      .option("numPartitions", numPartitions)
      .load()

  // ------------------------------------------------------------- queries

  /** Roundtrip scratch dirs, swept on JVM exit — without the hook a
    * long-lived session leaks one /tmp/graft_* dir per roundtrip
    * query run (142 had accumulated by round 3).
    */
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** Deepest-first recursive delete (directories empty before their
    * own delete), swallowing every error — the ONE definition shared
    * by the JVM-exit sweep below and the eager scratch/root deletes
    * (pipe15 replay dirs, evicted pipe15/pipe16 roots), so a fix to
    * the walk (symlinks, permissions) reaches every sweep.
    */
  private[graft] def deleteTree(dir: String): Unit =
    // a scheme-qualified path (hdfs://, mockfs:/ — anything the WAP
    // manifest can record) must go through the Hadoop FileSystem:
    // java.nio.Paths.get throws on it, and the catch-all below would
    // turn an expiry/orphan delete into a silent no-op — tombstoned
    // versions reporting dirs dropped that still exist
    if (dir.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*"))
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        val conf = org.apache.spark.sql.SparkSession.getActiveSession
          .map(_.sparkContext.hadoopConfiguration)
          .getOrElse(new org.apache.hadoop.conf.Configuration())
        p.getFileSystem(conf).delete(p, true); ()
      } catch { case _: Throwable => () }
    else
      try deleteTreePath(java.nio.file.Paths.get(dir))
      catch { case _: Throwable => () }

  private def deleteTreePath(p: java.nio.file.Path): Unit =
    try {
      import java.nio.file.{Files => F}
      import scala.jdk.CollectionConverters._
      if (F.exists(p))
        F.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(f => F.deleteIfExists(f))
    } catch { case _: Throwable => () }

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach(deleteTreePath)))
  }

  private[graft] def tempDir(tag: String): String = {
    val p = Files.createTempDirectory(s"graft_$tag")
    tempDirs.add(p)
    p.toString
  }

  /** Parent dir for per-run scratch. An explicit dir (the value of
    * SPARK_GRAFT_STREAM_SCRATCH for [[fastTempDir]]) must be a writable
    * directory: a bad one fails loudly rather than moving the scratch
    * to another file system unnoticed. Without one: /dev/shm when it
    * is a writable directory, else java.io.tmpdir.
    */
  private[graft] def scratchParent(explicit: Option[String]): Path =
    explicit match {
      case Some(dir) =>
        val p = Paths.get(dir)
        require(Files.isDirectory(p) && Files.isWritable(p),
          s"SPARK_GRAFT_STREAM_SCRATCH=$dir is not a writable directory")
        p
      case None =>
        val shm = Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
        else Paths.get(System.getProperty("java.io.tmpdir"))
    }

  /** Per-run scratch for STREAMING checkpoints and stream outputs:
    * RAM-backed when the host has a writable tmpfs (the
    * [[scratchDbDir]] rationale applied to the streaming arms —
    * r17). Profiled per micro-batch: each HDFSBackedStateStore
    * commit paid ~40-100 ms of ext4 create+rename per store per
    * micro-batch (32 stores on c11's session, then 8 wide = 3-6 s of
    * summed commit time for KB-sized state; the width is 4 since),
    * plus offset/commit-log writes on the same axis — pure
    * checkpoint-FS latency, not data. Durability of a per-run
    * scratch checkpoint is moot (created fresh, swept on exit;
    * restartability-from-checkpoint is pinned by specs that build
    * their OWN checkpoint dirs). A production deployment sizes
    * checkpoint storage for its durability needs instead —
    * SPARK_GRAFT_STREAM_SCRATCH overrides the parent dir
    * ([[scratchParent]]).
    */
  private[graft] def fastTempDir(tag: String): String = {
    val p = Files.createTempDirectory(
      scratchParent(sys.env.get("SPARK_GRAFT_STREAM_SCRATCH")), s"graft_$tag")
    tempDirs.add(p)
    p.toString
  }

  /** Scratch home for an embedded JDBC (Derby) target, RAM-backed when
    * the host has a writable tmpfs. Embedded Derby fsyncs its txn log
    * on every commit; with the database on the shared disk, full-bench
    * I/O load from the other 145 queries lands in those fsyncs and the
    * JDBC queries measure the host's disk queue instead of the MERGE
    * path (c6b: 0.9 s committed vs 4.5 s under driver load, two rounds
    * running). tmpfs makes the commit a memory write, so the figure is
    * load-invariant — and durability of a per-run scratch target is
    * moot: the database is created fresh each run and swept on exit.
    * Also pins Derby's boot-time tuning BEFORE the engine can boot
    * (first connection anywhere in the JVM): page cache sized to 64 MiB
    * (default is 4 MiB — thrashes on the MERGE working set) and
    * derby.log kept out of the repo working dir.
    */
  private[graft] def scratchDbDir(tag: String): String = {
    val p = Files.createTempDirectory(scratchParent(None), s"graft_$tag")
    tempDirs.add(p)
    derbyTuned
    System.setProperty("derby.system.home", p.toString)
    p.toString
  }

  /** Applied once, before the first embedded-Derby boot in this JVM
    * (boot-time system properties are read exactly once per engine).
    */
  private lazy val derbyTuned: Unit = {
    def dflt(k: String, v: String): Unit =
      if (System.getProperty(k) == null) System.setProperty(k, v): Unit
    dflt("derby.storage.pageCacheSize", "16384") // 16384 x 4 KiB = 64 MiB
    dflt("derby.stream.error.file", "/dev/null")
  }

  /** s7: parquet migrate roundtrip — lineitem → export projection →
    * parquet sink → read back → per-chunk summary. The oracle computes
    * the same summary straight from the source table: sink fidelity is
    * part of what is being hash-checked.
    */
  def s7ParquetRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = Tables.load(s, d, "lineitem")
    // per-column decimal spec, as the reference derives from declared
    // NUMBER(p,s) — lineitem money/qty columns are (18,2) here
    val decSpec = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_tax").map(_ -> (18, 2)).toMap
    val projected = src.select(exportProjection(src.schema, decSpec): _*)
    val out = tempDir("s7")
    run(projected, out)
    val back = s.read.parquet(out)
    val normCols = Seq(
      NormCol("l_orderkey", KLong), NormCol("l_linenumber", KLong),
      NormCol("l_quantity", KStr), NormCol("l_extendedprice", KStr),
      NormCol("l_shipdate", KStr))
    back.groupBy((floor(col("l_orderkey") / 1000)).cast("long").as("chunk_id"))
      .agg(count(lit(1)).as("n_rows"),
        Norm.sparkRowChecksum(normCols).as("row_checksum"))
  }

  val s7Sql: String = {
    val normCols = Seq(
      NormCol("l_orderkey", KLong), NormCol("l_linenumber", KLong),
      NormCol("l_quantity", KStr), NormCol("l_extendedprice", KStr),
      NormCol("l_shipdate", KStr))
    s"""SELECT CAST(floor(l_orderkey / 1000.0) AS BIGINT) AS chunk_id,
       |  count(*) AS n_rows,
       |  ${Norm.duckRowChecksum(normCols)} AS row_checksum
       |FROM (
       |  SELECT l_orderkey, l_linenumber,
       |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS l_quantity,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS l_extendedprice,
       |    strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS l_shipdate
       |  FROM lineitem) t
       |GROUP BY 1""".stripMargin
  }

  /** Synthesized string-edge rows: separators, quotes, backslashes,
    * NULL and '' — the CSV escaping fixture (F3,
    * `common/strings.go:540-560`).
    */
  private def edgeRows(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "orders").select(
      col("o_orderkey"),
      when(col("o_orderkey") % 7 === 0, lit(null: String))
        .when(col("o_orderkey") % 7 === 1, lit(""))
        .when(col("o_orderkey") % 7 === 2,
          concat(lit("a,b\"q\"\\"), col("o_orderstatus")))
        .when(col("o_orderkey") % 7 === 3, lit("  pad  "))
        .otherwise(col("o_orderpriority")).as("payload"),
      col("o_totalprice").cast(DecimalType(14, 2)).cast("string").as("price_str"))

  private val edgeRowsSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       WHEN o_orderkey % 7 = 1 THEN ''
      |       WHEN o_orderkey % 7 = 2 THEN 'a,b"q"\' || o_orderstatus
      |       WHEN o_orderkey % 7 = 3 THEN '  pad  '
      |       ELSE o_orderpriority END AS payload,
      |  CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR) AS price_str
      |FROM orders""".stripMargin

  /** s8: CSV migrate roundtrip with hostile string content. Values
    * must survive quote/escape/null handling exactly; '' and NULL are
    * normalized to NULL on read-back per reference semantics (CSV
    * cannot distinguish them — reference comment
    * `database/oracle/full.go:198-201`).
    */
  def s8CsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = tempDir("s8")
    run(edgeRows(s, d), out, "csv", csvOptions)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("payload", StringType),
      StructField("price_str", StringType)))
    s.read.options(csvOptions).schema(schema).csv(out)
      .select(col("o_orderkey"),
        when(col("payload").isNull || col("payload") === "", lit("NULL"))
          .otherwise(col("payload")).as("payload"),
        col("price_str"))
  }

  val s8Sql: String =
    s"""SELECT o_orderkey,
       |  CASE WHEN payload IS NULL OR payload = '' THEN 'NULL'
       |       ELSE payload END AS payload,
       |  price_str
       |FROM ($edgeRowsSql) t""".stripMargin

  /** The write half of s8b, split out so the spec can assert the
    * on-disk layout. `partitionBy(chunk_id)` is the Spark-native
    * equivalent of the reference's per-chunk `SCHEMA.TABLE.<i>.csv`
    * file naming (`module/migrate/csv/oracle/o2m/csv.go:702-733`):
    * the chunk id becomes a directory key (`chunk_id=<i>/part-*.csv`),
    * so a chunk-restricted consumer prunes to exactly its files at
    * LISTING time — the operational property the reference's naming
    * scheme exists to provide.
    */
  def chunkedCsvWrite(s: SparkSession, d: String, out: String): Unit =
    edgeRows(s, d)
      .withColumn("chunk_id", pmod(col("o_orderkey"), lit(4)).cast("int"))
      .write.mode(SaveMode.Overwrite).partitionBy("chunk_id")
      .options(csvOptions).csv(out)

  /** s8b: per-chunk CSV export + read-back — hostile-string content
    * through the partitioned layout, chunk membership re-materialized
    * from the directory names (not from the data!), so layout
    * integrity is part of the hash check.
    */
  def s8bChunkedCsv(s: SparkSession, d: String): DataFrame = {
    val out = tempDir("s8b")
    chunkedCsvWrite(s, d, out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("payload", StringType),
      StructField("price_str", StringType),
      StructField("chunk_id", IntegerType)))
    s.read.options(csvOptions).schema(schema).csv(out)
      .select(col("o_orderkey"),
        when(col("payload").isNull || col("payload") === "", lit("NULL"))
          .otherwise(col("payload")).as("payload"),
        col("price_str"), col("chunk_id"))
  }

  val s8bSql: String =
    s"""SELECT o_orderkey,
       |  CASE WHEN payload IS NULL OR payload = '' THEN 'NULL'
       |       ELSE payload END AS payload,
       |  price_str,
       |  CAST(o_orderkey % 4 AS INT) AS chunk_id
       |FROM ($edgeRowsSql) t""".stripMargin

  /** The reference's EXACT CSV dialect knobs (`example/config.toml:
    * 68-80`, writer `module/migrate/csv/oracle/o2m/csv.go`):
    * multi-character field separator, multi-character row terminator,
    * quote delimiter, bare unquoted NULL token, escape-backslash.
    */
  private[graft] val DialectSep = "|#|"
  private[graft] val DialectTerm = "|+|\r\n"

  /** A full CSV dialect as data — the `[csv]` config block
    * (`example/config.toml:66-80`) made executable, so a user's
    * separator/terminator/null-token/escape/header knobs actually
    * parameterize the writer instead of being pinned to the s8c
    * constants. [[ReferenceCsv]] IS those constants, so the s8c
    * surface is the spec applied to the reference's example values.
    * `delimiter` is the quote character (single char — the grammar's
    * char-classes assume it; the reference's own example uses `"`).
    */
  final case class CsvSpec(separator: String, terminator: String,
      nullToken: String, escapeBackslash: Boolean, header: Boolean,
      delimiter: String = "\"") {
    require(delimiter.length == 1, "quote delimiter must be one char")
    require(separator.nonEmpty && terminator.nonEmpty,
      "separator/terminator must be non-empty")
  }

  private[graft] val ReferenceCsv = CsvSpec(DialectSep, DialectTerm,
    nullToken = "NULL", escapeBackslash = true, header = false)

  private def regexEscChar(c: Char): String =
    if ("\\^$.|?*+()[]{}".indexOf(c.toInt) >= 0) "\\" + c else c.toString

  /** The escape substitutions for a spec, writer direction.
    * escape-backslash=true is dumpling's rule (backslash-escape `\`,
    * the delimiter, CR, LF — keeps the raw terminator sequence
    * impossible inside a field); false is standard-CSV delimiter
    * doubling (fields then MUST NOT contain the terminator — the
    * doubling grammar cannot protect the line split, dumpling has the
    * same caveat).
    */
  private def escapePairs(spec: CsvSpec): Seq[(String, String)] =
    if (spec.escapeBackslash)
      Seq("\\" -> "\\\\", spec.delimiter -> ("\\" + spec.delimiter),
        "\r" -> "\\r", "\n" -> "\\n")
    else Seq(spec.delimiter -> (spec.delimiter + spec.delimiter))

  private def unescapePairs(spec: CsvSpec): Seq[(String, String)] =
    if (spec.escapeBackslash)
      Seq("\\\\" -> "\u0000", "\\r" -> "\r", "\\n" -> "\n",
        ("\\" + spec.delimiter) -> spec.delimiter, "\u0000" -> "\\")
    else Seq((spec.delimiter + spec.delimiter) -> spec.delimiter)

  /** One configured FIELD, rendered: SQL NULL → the spec's bare null
    * token; anything else escaped per the spec and quote-delimited.
    */
  private[graft] def dialectRender(c: Column, spec: CsvSpec): Column =
    when(c.isNull, lit(spec.nullToken))
      .otherwise(concat(lit(spec.delimiter),
        replaceAll(c, escapePairs(spec)), lit(spec.delimiter)))

  /** Inverse of [[dialectRender]] on one extracted token. */
  private[graft] def dialectField(t: Column, spec: CsvSpec): Column =
    when(t === spec.nullToken, lit(null: String))
      .otherwise(replaceAll(t.substr(lit(2), length(t) - 2),
        unescapePairs(spec)))

  /** The token regex for a spec: one quoted field (escape-aware per
    * the spec's escape rule, consuming quoted regions atomically) or
    * the bare null token.
    */
  private[graft] def dialectFieldRe(spec: CsvSpec): String = {
    val d = regexEscChar(spec.delimiter.head)
    val quoted =
      if (spec.escapeBackslash) s"$d(?:[^$d\\\\]|\\\\.)*$d"
      else s"$d(?:[^$d]|$d$d)*$d"
    quoted + "|" + java.util.regex.Pattern.quote(spec.nullToken)
  }

  /** Dialect-stress fixture for s8c: payloads embedding the dialect's
    * OWN metacharacters — the separator, the terminator's pieces
    * including a raw CR LF, quotes + backslashes, '' and NULL, and
    * the bare NULL token as a literal STRING (expressible only in a
    * quoting dialect — standard CSV's read-back collapses it).
    * Deliberately NOT shared with s8's edgeRows: that fixture feeds
    * the standard-CSV roundtrip whose reader (no multiLine) cannot
    * carry raw newlines, and weakening this fixture to fit it would
    * untest the dialect.
    */
  private def dialectEdgeRows(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "orders").select(
      col("o_orderkey"),
      when(col("o_orderkey") % 8 === 0, lit(null: String))
        .when(col("o_orderkey") % 8 === 1, lit(""))
        .when(col("o_orderkey") % 8 === 2, lit("x|#|y"))
        .when(col("o_orderkey") % 8 === 3, lit("t|+|\r\nend"))
        .when(col("o_orderkey") % 8 === 4, lit("NULL"))
        .when(col("o_orderkey") % 8 === 5,
          concat(lit("q\"uo\\te"), col("o_orderstatus")))
        .otherwise(col("o_orderpriority")).as("payload"),
      col("o_totalprice").cast(DecimalType(14, 2)).cast("string")
        .as("price_str"))

  private val dialectEdgeRowsSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 8 = 0 THEN NULL
      |       WHEN o_orderkey % 8 = 1 THEN ''
      |       WHEN o_orderkey % 8 = 2 THEN 'x|#|y'
      |       WHEN o_orderkey % 8 = 3 THEN 't|+|' || chr(13) || chr(10) || 'end'
      |       WHEN o_orderkey % 8 = 4 THEN 'NULL'
      |       WHEN o_orderkey % 8 = 5 THEN 'q"uo\te' || o_orderstatus
      |       ELSE o_orderpriority END AS payload,
      |  CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR) AS price_str
      |FROM orders""".stripMargin

  /** Literal (non-regex) sequential replaces — the escape/unescape
    * primitive for the dialect writer/reader.
    */
  private def replaceAll(c: Column,
      subs: Seq[(String, String)]): Column =
    subs.foldLeft(c) { case (acc, (from, to)) =>
      call_function("replace", acc, lit(from), lit(to)) }

  /** s8c: the reference's CSV dialect, byte-for-byte — a dialect
    * Spark's own CSV writer cannot produce (write-side `sep` is
    * single-character; the terminator and bare-NULL conventions have
    * no writer knobs at all). The rows are RENDERED as codegen'd
    * string expressions — escape-backslash escapes `\` `"` CR LF
    * (dumpling's rule, and the property that keeps the raw terminator
    * sequence impossible inside a field) — shipped through the text
    * sink with the terminator as `lineSep`, and re-parsed on read
    * with ONE regexp whose alternation consumes quoted regions
    * atomically (separators, quotes, terminator pieces, or the NULL
    * token INSIDE a payload cannot split or spoof fields). Unescape
    * routes escaped backslashes through a NUL sentinel (payloads
    * containing NUL are out of scope — the text sink's own limit).
    *
    * What the hash proves beyond s8: `''`, SQL NULL, and the literal
    * string `"NULL"` all round-trip DISTINCT (`was_null` pins the
    * SQL-NULL rows) — the quoted dialect expresses what standard CSV
    * read-back collapses (`database/oracle/full.go:198-201`).
    * Scale shape identical to s8: one codegen projection, one text
    * write, one text scan + projection — no shuffle anywhere.
    */
  /** The write half of s8c, split out (the s8b pattern) so the spec
    * can assert the RAW BYTES use the dialect — separator between
    * fields, terminator between rows, bare NULL tokens, escaped
    * CR/LF — not just that the round-trip closes.
    */
  /** One dialect FIELD, rendered: SQL NULL → the bare token; anything
    * else escape-backslashed (`\` `"` CR LF) and quote-delimited.
    * Inverse of [[dialectField]] — DialectSpec property-tests the
    * round-trip on arbitrary strings.
    */
  private[graft] def dialectRender(c: Column): Column =
    dialectRender(c, ReferenceCsv)

  /** One extracted dialect token, parsed back: the bare NULL token →
    * SQL NULL; a quoted field stripped and unescaped (escaped
    * backslashes route through a NUL sentinel — payloads containing
    * NUL are out of scope, the text sink's own limit).
    */
  private[graft] def dialectField(t: Column): Column =
    dialectField(t, ReferenceCsv)

  /** The token regex: one quoted field (escape-aware — consumes
    * quoted regions atomically) or the bare NULL token.
    */
  private[graft] val DialectFieldRe = dialectFieldRe(ReferenceCsv)

  def csvDialectWrite(s: SparkSession, d: String, out: String): Unit =
    dialectEdgeRows(s, d)
      .select(concat_ws(DialectSep,
        dialectRender(col("o_orderkey").cast("string")),
        dialectRender(col("payload")),
        dialectRender(col("price_str"))).as("value"))
      .write.mode(SaveMode.Overwrite).format("text")
      .option("lineSep", DialectTerm).save(out)

  def s8cCsvDialect(s: SparkSession, d: String): DataFrame = {
    val out = tempDir("s8c")
    csvDialectWrite(s, d, out)
    val fields = regexp_extract_all(col("value"),
      lit(DialectFieldRe), lit(0))
    s.read.format("text").option("lineSep", DialectTerm).load(out)
      .filter(length(col("value")) > 0)
      .select(fields.as("f"))
      .select(
        dialectField(element_at(col("f"), 1)).cast("long").as("o_orderkey"),
        dialectField(element_at(col("f"), 2)).as("payload_rt"),
        dialectField(element_at(col("f"), 3)).as("price_str"))
      .select(col("o_orderkey"),
        coalesce(col("payload_rt"), lit("NULL")).as("payload_out"),
        when(col("payload_rt").isNull, 1L).otherwise(0L).as("was_null"),
        col("price_str"))
  }

  val s8cSql: String =
    s"""SELECT o_orderkey,
       |  CASE WHEN payload IS NULL THEN 'NULL' ELSE payload END
       |    AS payload_out,
       |  CASE WHEN payload IS NULL THEN 1 ELSE 0 END AS was_null,
       |  price_str
       |FROM ($dialectEdgeRowsSql) t""".stripMargin

  /** Chunk membership as a single projected column: a when-chain over
    * the planned boundaries. Pure projection — codegen'd, no join, no
    * extra scan; the chunk *plan* stays on the driver (it is bounded:
    * one ChunkSpec per ~chunkRows rows) while the data is touched
    * exactly once.
    */
  def chunkIdColumn(chunks: Seq[ChunkSpec], keyCol: Column): Column =
    chunks.foldLeft(lit(null).cast("int")) { (acc, c) =>
      when(keyCol.between(c.lower, c.upper), lit(c.id)).otherwise(acc)
    }

  /** s9b: JSON-lines roundtrip — the third file format next to
    * parquet/CSV (LogMiner exports and data interchange commonly ship
    * JSON lines). Values pass through an explicit schema on re-read
    * (schema inference at 100 TB means a full extra pass); '' vs NULL
    * canonicalization follows the CSV path's reference semantics.
    */
  def s9bJsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = Tables.load(s, d, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(14, 2)).cast("string")
        .as("price_str"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
    val out = tempDir("s9b")
    src.write.mode(SaveMode.Overwrite).json(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("price_str", StringType),
      StructField("o_date", StringType)))
    s.read.schema(schema).json(out)
  }

  val s9bSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR) AS price_str,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_date
      |FROM orders""".stripMargin

  /** s10: hive-partitioned parquet sink + partition-pruned read-back —
    * the at-rest layout a 100 TB table needs: the partition key
    * becomes a directory level, so a predicate on it prunes at FILE
    * LISTING time (excluded partitions cost zero IO, not even footer
    * reads). The read-back filter must appear as `PartitionFilters`
    * in the scan node — MigrateSpec asserts that on the physical
    * plan — while the oracle recomputes the summary straight from the
    * source table, so layout fidelity is hash-checked end to end.
    */
  def s10PartitionedPruning(s: SparkSession, d: String): DataFrame = {
    val out = tempDir("s10")
    partitionedWrite(s, d, out)
    prunedReadBack(s, out)
  }

  /** The write half of s10, shared with the spec so the pruning
    * assertion always runs against the layout the registered query
    * actually writes.
    */
  def partitionedWrite(s: SparkSession, d: String, out: String): Unit =
    Tables.load(s, d, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      col("l_quantity").cast(DecimalType(18, 2)).cast("string").as("qty_str"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("l_returnflag").parquet(out)

  /** The pruned read half of s10, split out so the spec can inspect
    * its physical plan for `PartitionFilters` independently of the
    * write.
    */
  /** The layout s10 writes, stated explicitly: reading a partitioned
    * dir WITHOUT a schema infers it from the files present — which
    * fails outright on an empty table (zero files) and at 100 TB
    * costs a footer-sampling job; a production reader always states
    * the schema it expects (partition column included).
    */
  private val s10Schema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_linenumber", LongType),
    StructField("qty_str", StringType),
    StructField("l_returnflag", StringType)))

  def prunedReadBack(s: SparkSession, out: String): DataFrame = {
    val normCols = Seq(
      NormCol("l_orderkey", KLong), NormCol("l_linenumber", KLong),
      NormCol("qty_str", KStr))
    s.read.schema(s10Schema).parquet(out)
      .filter(col("l_returnflag") === "R")
      .groupBy((floor(col("l_orderkey") / 1000)).cast("long").as("chunk_id"))
      .agg(count(lit(1)).as("n_rows"),
        Norm.sparkRowChecksum(normCols).as("row_checksum"))
  }

  val s10Sql: String = {
    val normCols = Seq(
      NormCol("l_orderkey", KLong), NormCol("l_linenumber", KLong),
      NormCol("qty_str", KStr))
    s"""SELECT CAST(floor(l_orderkey / 1000.0) AS BIGINT) AS chunk_id,
       |  count(*) AS n_rows,
       |  ${Norm.duckRowChecksum(normCols)} AS row_checksum
       |FROM (
       |  SELECT l_orderkey, l_linenumber,
       |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS qty_str
       |  FROM lineitem WHERE l_returnflag = 'R') t
       |GROUP BY 1""".stripMargin
  }

  /** s11: schema-evolution roundtrip — a table whose later batches
    * grew a column, the normal state of any long-lived 100 TB
    * dataset. Batch 1 lands without `o_orderstatus`, batch 2 with it;
    * the read-back unifies per-file schemas (`mergeSchema` — an
    * explicit opt-in because footer reconciliation across millions of
    * files is a real planning cost) and old rows surface NULL for the
    * new column. The oracle reconstructs the same evolution
    * logically from the source table.
    */
  def s11SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val o = Tables.load(s, d, "orders")
    val out = tempDir("s11")
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
      .write.mode(SaveMode.Append).parquet(out)
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .write.mode(SaveMode.Append).parquet(out)
    s.read.option("mergeSchema", "true").parquet(out)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
  }

  val s11Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
      |FROM orders""".stripMargin

  /** s2: explicit chunk-planned scan — planChunks drives a computed
    * chunk_id over ONE pass of the table (round 1 unioned N per-chunk
    * filtered scans = N+1 full passes; at 100 TB that is N+1 reads of
    * the table). Chunk completeness (union of ranges == full table) is
    * still checked: rows outside every range would surface as a NULL
    * chunk_id group.
    */
  def s2ChunkedScan(s: SparkSession, d: String): DataFrame = {
    val o = Tables.load(s, d, "orders")
    val row = o.agg(min("o_orderkey"), max("o_orderkey"), count(lit(1)))
      .collect()(0)
    val n = row.getLong(2)
    // empty table: min/max are NULL (planChunks' own empty contract);
    // the chunked scan of nothing is the empty summary, not an NPE
    if (n == 0)
      return o.groupBy(lit(0L).as("chunk_id"))
        .agg(count(lit(1)).as("n_rows"),
          min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
    val chunks = planChunks(row.getLong(0), row.getLong(1), n, 2000L)
    o.groupBy(chunkIdColumn(chunks, col("o_orderkey")).as("chunk_id"))
      .agg(count(lit(1)).as("n_rows"),
        min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      // deterministic chunk ordering (W2) — a few rows post-agg, free
      .orderBy(col("chunk_id"))
  }

  /** s7b: full JDBC migrate roundtrip against embedded Derby — batched
    * write with explicit target column types, then a chunked
    * partition-column read back, summarized per chunk. The oracle
    * computes the same summary straight from the source: database
    * write/read fidelity (types, batching, chunk completeness) is
    * what's hash-checked.
    */
  def s7bJdbcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dbDir = scratchDbDir("derby")
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val src = Tables.load(s, d, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(14, 2)).cast("string")
        .as("price_str"))
    runJdbc(src, url, "ORDERS_MIG", batchSize = 100,
      columnTypes = Some("o_orderstatus VARCHAR(4), price_str VARCHAR(32)"))
    val normCols = Seq(
      NormCol("o_orderkey", KLong), NormCol("o_custkey", KLong),
      NormCol("o_orderstatus", KStr), NormCol("price_str", KStr))
    val bounds = src.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    // empty source: the JDBC overwrite still created the (empty)
    // target table; there is no partition range to read back — the
    // roundtrip summary of nothing is empty, not an NPE on NULL min
    val back =
      if (bounds.isNullAt(0)) src.limit(0)
      else readJdbcChunked(s, url, "ORDERS_MIG", "o_orderkey",
        bounds.getLong(0), bounds.getLong(1) + 1, 8)
    back.groupBy(floor(col("o_orderkey") / 1000).cast("long").as("chunk_id"))
      .agg(count(lit(1)).as("n_rows"),
        Norm.sparkRowChecksum(normCols).as("row_checksum"))
  }

  val s7bSql: String = {
    val normCols = Seq(
      NormCol("o_orderkey", KLong), NormCol("o_custkey", KLong),
      NormCol("o_orderstatus", KStr), NormCol("price_str", KStr))
    s"""SELECT CAST(floor(o_orderkey / 1000.0) AS BIGINT) AS chunk_id,
       |  count(*) AS n_rows,
       |  ${Norm.duckRowChecksum(normCols)} AS row_checksum
       |FROM (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR) AS price_str
       |  FROM orders) t
       |GROUP BY 1""".stripMargin
  }

  /** s9d: ORC roundtrip — the same export through Spark's native ORC
    * source/sink (S8 family: every file format the engine claims is
    * proven by a write→read→hash cycle, not by construction). ORC is
    * columnar like parquet, so the roundtrip also covers the
    * vectorized ORC reader path.
    */
  def s9dOrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = Tables.load(s, d, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(14, 2)).cast("string")
        .as("price_str"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
    val out = tempDir("s9d")
    src.write.mode(SaveMode.Overwrite).orc(out)
    s.read.orc(out)
  }

  // same projection as s9b — the format is what differs
  val s9dSql: String = s9bSql

  /** s9c: DDL direct-apply (S9 `direct-write`,
    * `module/reverse/write.go:41-120` — the reference can execute the
    * reverse DDL straight against the target instead of writing a
    * file). The marvin1lite zoo table is rendered in the embedded
    * target's dialect, CREATEd over JDBC, a check-engine fix action
    * (ADD COLUMN, the k1 ADD shape) applied on top, and the resulting
    * structure read back from JDBC metadata — the oracle pins the
    * expected structure, so synthesis + execution + introspection are
    * all on the hook. Defaults rewrite per target (SYSDATE →
    * CURRENT_TIMESTAMP); a default with no analogue (SYS_GUID())
    * diverts to the compatibility path rather than failing the table.
    */
  def s9cDdlApply(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.reverse.Reverse
    val dbDir = scratchDbDir("derby_ddl")
    val url = s"jdbc:derby:$dbDir/ddldb;create=true"
    val cols = Reverse.zoo.filter(_.table_name == "marvin1lite")
    def derbyType(z: Reverse.ZooCol): String = z.data_type match {
      case "NUMBER" => s"DECIMAL(${math.min(z.p.getOrElse(31), 31)})"
      case "VARCHAR2" => s"VARCHAR(${z.len})"
      case "DATE" => "TIMESTAMP"
      case _ => "VARCHAR(100)"
    }
    def derbyDefault(dflt: String): Option[String] = dflt match {
      case "SYSDATE" => Some("CURRENT_TIMESTAMP")
      case "SYS_GUID()" => None // no Derby analogue — compat divert
      case v => Some(v)
    }
    val lines = cols.map { z =>
      val dfltCl = z.dflt.flatMap(derbyDefault)
        .map(v => s" DEFAULT $v").getOrElse("")
      val nn = if (!z.nullable) " NOT NULL" else ""
      s"${z.col_name} ${derbyType(z)}$dfltCl$nn"
    }
    val createSql =
      (s"CREATE TABLE marvin1lite (" +:
        (lines :+ "PRIMARY KEY (id)").mkString(",\n") +: Seq(")"))
        .mkString("\n")
    val fixSql = "ALTER TABLE marvin1lite ADD COLUMN extra_flag VARCHAR(20)"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(createSql)
      st.execute(fixSql)
      st.close()
      val md = conn.getMetaData.getColumns(null, null, "MARVIN1LITE", null)
      val buf = Seq.newBuilder[(Int, String, String, Int, Boolean)]
      while (md.next()) {
        val tn = md.getString("TYPE_NAME")
        // width is only meaningful for char/decimal forms; TIMESTAMP
        // widths are driver-internal and not part of the contract
        val w = if (tn == "VARCHAR" || tn == "DECIMAL")
          md.getInt("COLUMN_SIZE") else 0
        buf += ((md.getInt("ORDINAL_POSITION"),
          md.getString("COLUMN_NAME"), tn, w,
          md.getString("IS_NULLABLE") == "YES"))
      }
      md.close()
      buf.result()
        .toDF("ordinal", "column_name", "type_name", "width", "nullable")
    } finally conn.close()
  }

  /** The write half of s12: both join sides land as bucketed tables —
    * hash-partitioned BY THE JOIN KEY at rest, pre-sorted within each
    * bucket. Bucketing is the at-rest co-location strategy for 100 TB
    * fact⋈fact joins: a repeated join key's shuffle is paid ONCE at
    * write time, and every subsequent join on that key reads
    * bucket-aligned files with NO Exchange in the plan (MigrateSpec
    * asserts exactly that). The reference has no analogue — its chunks
    * co-locate a scan, not a join — this is Spark-native layout
    * design. External-table form (`option("path")`) so the data
    * lives in the caller's directory, not a session warehouse.
    */
  def bucketedWrite(s: SparkSession, d: String, ordPath: String,
      custPath: String, buckets: Int = 8): Unit = {
    s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    s.sql("DROP TABLE IF EXISTS graft_bkt_customer")
    Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("o_price"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
      .option("path", ordPath).saveAsTable("graft_bkt_orders")
    Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
      .option("path", custPath).saveAsTable("graft_bkt_customer")
  }

  /** The join half of s12, split out so the spec can assert the
    * physical plan (SortMergeJoin, zero Exchange) independently of the
    * aggregation. The merge hints pin the join to the sort-merge path
    * the bucket layout exists to serve — without them Catalyst would
    * broadcast the small side at test scale and the layout would never
    * be exercised.
    */
  def bucketedJoin(s: SparkSession): DataFrame =
    s.table("graft_bkt_orders").hint("merge")
      .join(s.table("graft_bkt_customer").hint("merge"),
        col("o_custkey") === col("c_custkey"))

  /** s12: bucketed co-located join — write both sides bucketed on the
    * join key, join shuffle-free, aggregate. The oracle computes the
    * same join straight from the source tables, so bucket-pruned read
    * fidelity (no dropped/duplicated rows across bucket files) is part
    * of the hash check.
    */
  def s12BucketedJoin(s: SparkSession, d: String): DataFrame = {
    bucketedWrite(s, d, tempDir("s12_ord"), tempDir("s12_cust"))
    bucketedJoin(s)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_price")).cast(DecimalType(38, 2)).cast("string")
          .as("total"))
  }

  val s12Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** Size-aware small-file compaction: list the input's data files,
    * size the rewrite so output files land near `targetBytes`, rewrite
    * in one distributed pass. Returns the chosen file count so callers
    * (and the spec) can assert the plan. This is the maintenance
    * operator every long-lived 100 TB table needs: streaming/CDC sinks
    * (c6's `foreachBatch`, the reference's per-chunk CSV files) leave
    * thousands of KB-scale files per partition, and scan planning cost
    * grows with FILE COUNT, not bytes — a million 1 MB files plan
    * ~1000× slower than a thousand 1 GB files. The listing is
    * driver-side metadata (bounded: one FileStatus per file — exactly
    * what Spark's own scan planner lists anyway); the data path is
    * fully distributed.
    */
  def compact(s: SparkSession, in: String, out: String,
      targetBytes: Long): Int = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(in).getFileSystem(s.sparkContext.hadoopConfiguration)
    // recursive: a partitioned layout nests part- files under key=...
    // subdirectories — a top-level listing would sum 0 bytes and
    // silently compact everything to one file
    val it = fs.listFiles(new Path(in), true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-")) bytes += f.getLen
    }
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    s.read.parquet(in).repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(out)
    n
  }

  /** s13: small-file compaction roundtrip — fragment orders into 64
    * shards (the CDC-debris shape), compact to size-targeted files,
    * and checksum the compacted read-back against the source-table
    * oracle: compaction must be byte-lossless, never "mostly".
    */
  def s13Compaction(s: SparkSession, d: String): DataFrame = {
    val frag = tempDir("s13_frag")
    val comp = tempDir("s13_comp")
    Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(14, 2)).cast("string")
          .as("price_str"))
      .repartition(64)
      .write.mode(SaveMode.Overwrite).parquet(frag)
    compact(s, frag, comp, 32L << 20)
    val back = s.read.parquet(comp)
    val normCols = Seq(
      NormCol("o_orderkey", KLong), NormCol("o_custkey", KLong),
      NormCol("o_orderstatus", KStr), NormCol("price_str", KStr))
    back.groupBy(floor(col("o_orderkey") / 1000).cast("long").as("chunk_id"))
      .agg(count(lit(1)).as("n_rows"),
        Norm.sparkRowChecksum(normCols).as("row_checksum"))
  }

  // same per-chunk summary as s7b — the path under test is what differs
  val s13Sql: String = s7bSql

  /** s14: quarantine read — the reference records a failed chunk in
    * `chunk_error_detail` and CONTINUES the job (`module/migrate/sql/
    * oracle/o2m/full.go:497-524`, quarantine-not-fatal); the row-level
    * file-era analogue is PERMISSIVE parsing with a corrupt-record
    * column: malformed rows keep their parseable fields, carry the
    * raw line in `_quarantine`, and flow to a replay sink instead of
    * failing 100 TB of job for one bad record. Every 5th row's
    * numeric field is poisoned with text; the oracle recomputes the
    * good/quarantined split logically, so the engine's malformed-row
    * classification is itself what the hash checks.
    */
  def s14QuarantineRead(s: SparkSession, d: String): DataFrame = {
    val out = tempDir("s14")
    Tables.load(s, d, "orders").select(
      col("o_orderkey"),
      when(col("o_orderkey") % 5 === 0, lit("not_a_number"))
        .otherwise(col("o_custkey").cast("string")).as("custkey_str"))
      .write.mode(SaveMode.Overwrite).csv(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("custkey", LongType),
      StructField("_quarantine", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_quarantine")
      .csv(out)
      .groupBy(floor(col("o_orderkey") / 1000).cast("long").as("chunk_id"))
      .agg(
        sum(when(col("_quarantine").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_quarantine").isNotNull, 1L).otherwise(0L))
          .as("n_quarantined"),
        // good-row content survives untouched — checksum the payload
        sum(when(col("_quarantine").isNull, col("custkey")))
          .cast("long").as("good_key_sum"))
  }

  val s14Sql: String =
    """SELECT CAST(floor(o_orderkey / 1000.0) AS BIGINT) AS chunk_id,
      |  CAST(sum(CASE WHEN o_orderkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      |  CAST(sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
      |  CAST(sum(CASE WHEN o_orderkey % 5 <> 0 THEN o_custkey END) AS BIGINT) AS good_key_sum
      |FROM orders GROUP BY 1""".stripMargin

  /** The write half of s15: range-clustered layout —
    * `repartitionByRange` + `sortWithinPartitions` on the query key,
    * so each output file owns a DISJOINT key range and is internally
    * sorted. Hive partitioning (s10) is for low-cardinality keys; for
    * a high-cardinality range-query key this is the layout that works
    * at 100 TB: parquet stores per-row-group min/max on the sort key,
    * a range predicate prunes whole files/row-groups at footer time,
    * and the sort makes those stats TIGHT (random layout gives every
    * row-group a min≈global-min, max≈global-max — stats that prune
    * nothing). MigrateSpec asserts the disjoint-file-range property
    * directly.
    */
  def rangeLayoutWrite(s: SparkSession, d: String, out: String,
      files: Int = 4): Unit =
    Tables.load(s, d, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice").cast(DecimalType(18, 2)).cast("string")
        .as("price_str"))
      .repartitionByRange(files, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode(SaveMode.Overwrite).parquet(out)

  /** s15: range-clustered export + range-pruned read-back. The range
    * predicate on the read side hits the sort-key stats; the oracle
    * recomputes the summary from the source, so the clustered write
    * must be lossless under the predicate — boundary rows included
    * (off-by-one at a range split would hash-mismatch).
    */
  def s15RangeLayout(s: SparkSession, d: String): DataFrame = {
    val out = tempDir("s15")
    rangeLayoutWrite(s, d, out)
    val normCols = Seq(
      NormCol("l_orderkey", KLong), NormCol("l_linenumber", KLong),
      NormCol("price_str", KStr))
    s.read.parquet(out)
      .filter(col("l_orderkey") >= 2000 && col("l_orderkey") < 5000)
      .groupBy(floor(col("l_orderkey") / 1000).cast("long").as("chunk_id"))
      .agg(count(lit(1)).as("n_rows"),
        Norm.sparkRowChecksum(normCols).as("row_checksum"))
  }

  val s15Sql: String = {
    val normCols = Seq(
      NormCol("l_orderkey", KLong), NormCol("l_linenumber", KLong),
      NormCol("price_str", KStr))
    s"""SELECT CAST(floor(l_orderkey / 1000.0) AS BIGINT) AS chunk_id,
       |  count(*) AS n_rows,
       |  ${Norm.duckRowChecksum(normCols)} AS row_checksum
       |FROM (
       |  SELECT l_orderkey, l_linenumber,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str
       |  FROM lineitem
       |  WHERE l_orderkey >= 2000 AND l_orderkey < 5000) t
       |GROUP BY 1""".stripMargin
  }

  /** Bit-interleaved Z-value of two non-negative long keys — the
    * multi-dimensional clustering key (Morton order): interleaving
    * bits makes points close in BOTH dimensions close in the 1-D sort,
    * so per-file min/max footer stats prune 2-D box predicates — the
    * property a single-column range layout (s15) cannot give the
    * second dimension. Pure long arithmetic, codegen'd, identical in
    * SQL; `bits` per dimension (values ≥ 2^bits would alias — 24
    * covers TPC-H keys to sf1 and beyond).
    */
  def zValue(a: Column, b: Column, bits: Int = 24): Column =
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  def zValueSql(a: String, b: String, bits: Int = 24): String =
    (0 until bits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")

  def zOrderWrite(s: SparkSession, d: String, out: String,
      files: Int = 8): Unit = {
    val zv = zValue(col("l_orderkey"), col("l_partkey"))
    Tables.load(s, d, "lineitem").select(
      col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
      col("l_extendedprice").cast(DecimalType(18, 2)).cast("string")
        .as("price_str"))
      .withColumn("zv", zv)
      .repartitionByRange(files, col("zv"))
      .sortWithinPartitions(col("zv"))
      .write.mode(SaveMode.Overwrite).parquet(out)
  }

  /** s16: Z-order (multi-dim) clustered export + 2-D box read-back.
    * The oracle recomputes the interleave arithmetic AND the summary
    * from the source, so both the Morton encoding and write
    * losslessness under the box predicate are hash-checked; the
    * file-pruning benefit itself is asserted in MigrateSpec (the box
    * touches a strict subset of files, vs all of them under the
    * single-dim layout).
    */
  def s16ZorderLayout(s: SparkSession, d: String): DataFrame = {
    val out = tempDir("s16")
    zOrderWrite(s, d, out)
    val normCols = Seq(
      NormCol("l_orderkey", KLong), NormCol("l_partkey", KLong),
      NormCol("l_linenumber", KLong), NormCol("price_str", KStr))
    s.read.parquet(out)
      .filter(col("l_orderkey").between(2000, 4999) &&
        col("l_partkey").between(500, 1499))
      .groupBy(floor(col("l_orderkey") / 1000).cast("long").as("chunk_id"))
      .agg(count(lit(1)).as("n_rows"),
        Norm.sparkRowChecksum(normCols).as("row_checksum"),
        sum(col("zv")).cast(DecimalType(38, 0)).cast("string")
          .as("z_sum"))
  }

  val s16Sql: String = {
    val normCols = Seq(
      NormCol("l_orderkey", KLong), NormCol("l_partkey", KLong),
      NormCol("l_linenumber", KLong), NormCol("price_str", KStr))
    s"""SELECT CAST(floor(l_orderkey / 1000.0) AS BIGINT) AS chunk_id,
       |  count(*) AS n_rows,
       |  ${Norm.duckRowChecksum(normCols)} AS row_checksum,
       |  CAST(CAST(sum(${zValueSql("l_orderkey", "l_partkey")})
       |       AS DECIMAL(38,0)) AS VARCHAR) AS z_sum
       |FROM (
       |  SELECT l_orderkey, l_partkey, l_linenumber,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str
       |  FROM lineitem
       |  WHERE l_orderkey BETWEEN 2000 AND 4999
       |    AND l_partkey BETWEEN 500 AND 1499) t
       |GROUP BY 1""".stripMargin
  }

  /** Manifest build for [[s17ManifestSkipping]]: one row per data
    * file with its key min/max and row count — the table-format
    * manifest role (Iceberg manifest entries / Delta Add actions
    * carry exactly these per-file column stats). Built by one
    * groupBy over `input_file_name()`; at 100 TB the manifest is
    * maintained incrementally at write time, but its SIZE stays
    * O(files), which is what makes the planner below cheap.
    */
  def manifestWrite(s: SparkSession, d: String, out: String,
      files: Int = 8): Unit = {
    rangeLayoutWrite(s, d, s"$out/data", files)
    s.read.parquet(s"$out/data")
      .groupBy(input_file_name().as("path"))
      .agg(min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/manifest")
  }

  /** Manifest-planned scan: files whose [min,max] overlaps [lo,hi)
    * are read, the rest are never opened. The driver-side collect is
    * the FILE LIST — O(files), the same bounded planning collect
    * every table format performs; row data stays distributed.
    * Returns (pruned scan, files read, files total) so the spec can
    * assert the skip actually happened.
    */
  def manifestPrunedRead(s: SparkSession, out: String, lo: Long,
      hi: Long): (DataFrame, Int, Int) = {
    val man = s.read.parquet(s"$out/manifest")
    val total = man.count().toInt
    val picked = man
      .filter(col("min_key") < hi && col("max_key") >= lo)
      .select("path").collect().map(_.getString(0))
    // a window overlapping NO file is a legitimate plan outcome (the
    // best case, in fact): answer from schema alone — parquet() with
    // zero paths throws instead
    val scan =
      if (picked.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          s.read.parquet(s"$out/data").schema)
      else s.read.parquet(picked.toIndexedSeq: _*)
        .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
    (scan, picked.length, total)
  }

  /** s17: manifest-based file skipping — the data-skipping layer
    * ABOVE parquet footer stats: s15's footer min/max still requires
    * opening every file; a manifest (the Iceberg/Delta mechanism)
    * prunes at PLAN time from one tiny stats table, which at 100 TB
    * is the difference between listing 10⁶ files and reading one
    * manifest. The range-clustered write (s15's layout) is what
    * makes the per-file stats tight enough to prune. The oracle
    * recomputes the summary from the raw source, so the
    * manifest-planned scan must be LOSSLESS under the predicate —
    * a file wrongly skipped (boundary off-by-one in the overlap
    * test) hash-mismatches; the skipping itself is asserted in
    * MigrateSpec (strict subset of files read).
    */
  def s17ManifestSkipping(s: SparkSession, d: String): DataFrame = {
    val out = tempDir("s17")
    manifestWrite(s, d, out)
    val (scan, _, _) = manifestPrunedRead(s, out, 1000L, 4000L)
    val normCols = Seq(
      NormCol("l_orderkey", KLong), NormCol("l_linenumber", KLong),
      NormCol("price_str", KStr))
    scan
      .groupBy(floor(col("l_orderkey") / 1000).cast("long").as("chunk_id"))
      .agg(count(lit(1)).as("n_rows"),
        Norm.sparkRowChecksum(normCols).as("row_checksum"))
  }

  val s17Sql: String = {
    val normCols = Seq(
      NormCol("l_orderkey", KLong), NormCol("l_linenumber", KLong),
      NormCol("price_str", KStr))
    s"""SELECT CAST(floor(l_orderkey / 1000.0) AS BIGINT) AS chunk_id,
       |  count(*) AS n_rows,
       |  ${Norm.duckRowChecksum(normCols)} AS row_checksum
       |FROM (
       |  SELECT l_orderkey, l_linenumber,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str
       |  FROM lineitem
       |  WHERE l_orderkey >= 1000 AND l_orderkey < 4000) t
       |GROUP BY 1""".stripMargin
  }

  /** Sweep-line overlap-depth metrics over a file manifest — the
    * clustering-QUALITY measure the layout family (s15/s16/s17) has
    * no eye for: those queries verify a layout reads back losslessly;
    * this one measures whether the layout is still worth its name.
    * Overlap depth at a key point = how many files' [min,max] ranges
    * cover it — exactly the statistic Delta/Iceberg OPTIMIZE
    * planners (and LSM compaction pickers) use to decide re-cluster:
    * a freshly range-clustered table has depth 1 everywhere; after
    * enough unsorted appends every file spans the whole key range
    * and depth = #files, meaning a range query opens all of them.
    *
    * Input: (layout, file_id, min_key, max_key) manifest rows — the
    * s17 manifest schema. The sweep is the classic +1-at-min /
    * −1-past-max event walk with a running sum: O(files) rows, a
    * bounded window per layout (manifests are O(files) regardless of
    * data size — the same reason s17's planner is cheap). Reported:
    * max depth, depth·length area, and the length-weighted mean depth
    * integer-scaled (exact integer inputs, IEEE-exact mul/div — the
    * a40 discipline). Tie order within a position puts −1 before +1:
    * the −1 sits at max+1 (the EXCLUSIVE end), so a file ending at k
    * and one starting at k+1 — disjoint keys — must not count as
    * overlapping, while files genuinely sharing key k emit their
    * events at different positions and overlap regardless of ties.
    */
  private[graft] def overlapDepth(man: DataFrame): DataFrame = {
    val ev = man.select(col("layout"), col("min_key").as("pos"),
        lit(1L).as("delta"))
      .unionAll(man.select(col("layout"), (col("max_key") + lit(1L)).as("pos"),
        lit(-1L).as("delta")))
    val w = Window.partitionBy("layout")
      .orderBy(col("pos").asc, col("delta").asc)
    val stepped = ev
      .withColumn("depth", sum(col("delta"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("seg_len",
        coalesce(lead(col("pos"), 1).over(w) - col("pos"), lit(0L)))
    val files = man.groupBy("layout").agg(
      count(lit(1)).as("n_files"),
      (max(col("max_key")) + lit(1L) - min(col("min_key"))).as("span"))
    stepped.groupBy("layout")
      .agg(max(col("depth")).as("max_depth"),
        sum(col("depth") * col("seg_len")).as("depth_area"))
      .join(broadcast(files), "layout")
      .withColumn("avg_depth_x1e6",
        floor(col("depth_area").cast("double") * 1000000.0 /
          col("span").cast("double")).cast("long"))
      .select("layout", "n_files", "max_depth", "depth_area", "span",
        "avg_depth_x1e6")
  }

  /** s18: layout-health report — [[overlapDepth]] over two arithmetic
    * manifests of the same table: `clustered` (disjoint key ranges,
    * the state right after s15's range write) and `scattered` (files
    * keyed round-robin, the state after many unsorted appends). The
    * file assignment is explicit arithmetic rather than a physical
    * write so the manifest — and therefore the metric — is
    * engine-reproducible; a production caller feeds s17's real
    * manifest through the same [[overlapDepth]]. Expected shape:
    * clustered depth 1, scattered depth = #files — the two ends of
    * the re-cluster decision.
    */
  def s18OverlapDepth(s: SparkSession, d: String): DataFrame = {
    val files = 8
    val keys = Tables.load(s, d, "lineitem").select(col("l_orderkey").as("key"))
    val mx = keys.agg(max(col("key")).as("mx"))
    val keyed = keys.crossJoin(broadcast(mx))
    val man = keyed.select(lit("clustered").as("layout"),
        floor(col("key") * lit(files.toLong) / (col("mx") + lit(1L)))
          .cast("long").as("file_id"), col("key"))
      .unionAll(keyed.select(lit("scattered").as("layout"),
        (col("key") % lit(files.toLong)).as("file_id"), col("key")))
      .groupBy(col("layout"), col("file_id"))
      .agg(min(col("key")).as("min_key"), max(col("key")).as("max_key"))
    overlapDepth(man)
  }

  val s18Sql: String =
    """WITH k AS (SELECT l_orderkey AS key FROM lineitem),
      |mx AS (SELECT max(key) AS mx FROM k),
      |man AS (
      |  SELECT layout, file_id, min(key) AS min_key, max(key) AS max_key
      |  FROM (
      |    SELECT 'clustered' AS layout,
      |      CAST(floor(key * 8 / (mx + 1)) AS BIGINT) AS file_id, key
      |    FROM k, mx
      |    UNION ALL
      |    SELECT 'scattered', key % 8, key FROM k) t
      |  GROUP BY 1, 2),
      |ev AS (
      |  SELECT layout, min_key AS pos, 1 AS delta FROM man
      |  UNION ALL
      |  SELECT layout, max_key + 1, -1 FROM man),
      |stepped AS (
      |  SELECT layout, pos, delta,
      |    sum(delta) OVER (PARTITION BY layout ORDER BY pos, delta ASC
      |                     ROWS UNBOUNDED PRECEDING) AS depth,
      |    coalesce(lead(pos) OVER (PARTITION BY layout
      |                             ORDER BY pos, delta ASC) - pos, 0)
      |      AS seg_len
      |  FROM ev),
      |files AS (SELECT layout, count(*) AS n_files,
      |            max(max_key) + 1 - min(min_key) AS span
      |          FROM man GROUP BY 1)
      |SELECT layout, n_files,
      |  CAST(max(depth) AS BIGINT) AS max_depth,
      |  CAST(sum(depth * seg_len) AS BIGINT) AS depth_area, span,
      |  CAST(floor(CAST(sum(depth * seg_len) AS DOUBLE) * 1000000.0 /
      |    CAST(span AS DOUBLE)) AS BIGINT) AS avg_depth_x1e6
      |FROM stepped JOIN files USING (layout)
      |GROUP BY layout, n_files, span""".stripMargin

  /** s19: dynamic partition overwrite — the idempotent daily-batch
    * restatement pattern: a date-partitioned table gets ONE day
    * recomputed (here: the earliest day, dropping its 'view' events —
    * a correction feed), and the rewrite must replace exactly that
    * day's files while every other partition's files stay untouched
    * (`partitionOverwriteMode=dynamic`; static mode would TRUNCATE
    * the table — the classic production incident). At 100 TB this is
    * the restatement primitive: the job writes only the restated
    * day's rows, the committer swaps only that directory. The oracle
    * recomputes the expected FINAL table state closed-form, so the
    * hash gate covers the overwrite's scoping (a static-mode wipe or
    * an unscoped append both mismatch); MigrateSpec asserts the
    * file-level contract directly. Known edge, documented as part of
    * the pattern: a restatement that deletes ALL of a partition's
    * rows writes an empty frame, which dynamic mode treats as "no
    * partitions touched" — full-partition deletes need an explicit
    * delete, not an overwrite (the spec pins the non-empty path).
    */
  def s19DynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    val root = tempDir("s19")
    def eventsOf(sess: SparkSession): DataFrame =
      graft.Tables.load(sess, d, "events")
        .withColumn("dt",
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
        .withColumn("cents",
          floor(col("value") * lit(100.0)).cast("long"))
        .select(col("event_id"), col("event_type"), col("dt"),
          col("cents"))
    val ev = eventsOf(s)
    def summary(df: DataFrame): DataFrame =
      df.groupBy(col("dt").as("day"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("id_sum"),
          sum(col("cents")).as("cents_sum"))
    ev.write.partitionBy("dt").mode(SaveMode.Overwrite).parquet(root)
    // bounded planning lookup: the restated day (earliest by rule)
    val td = ev.agg(min(col("dt"))).head.getString(0)
    if (td == null) return summary(ev) // empty source: nothing to restate
    // the dynamic-overwrite conf lives on a CLONED session so the
    // override cannot leak into queries planning concurrently on the
    // shared session (StreamRun.session's discipline; a set/restore
    // window here was a review finding) — writes take their conf
    // from the frame's OWN session
    val ss = s.newSession()
    ss.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val restated =
      eventsOf(ss).filter(col("dt") === td && col("event_type") =!= "view")
    // dynamic overwrite only touches partitions the frame WRITES; an
    // empty restatement would leave the old day's files in place and
    // the result would silently diverge from "drop the whole day".
    // That full-partition-delete edge needs a DELETE primitive (or
    // static overwrite of the one partition), not this operator —
    // fail clearly instead of returning a stale read. limit(1) keeps
    // the precondition probe a pushed-down short-circuit scan.
    require(restated.limit(1).count() > 0L,
      s"s19: restatement of day $td is empty — dynamic partition " +
        "overwrite cannot express a full-partition delete (see " +
        "scaladoc); use a static single-partition overwrite instead")
    restated
      .write.partitionBy("dt").mode(SaveMode.Overwrite).parquet(root)
    summary(s.read.parquet(root)
      .select(col("event_id"), col("event_type"),
        col("dt").cast("string").as("dt"), col("cents")))
  }

  val s19Sql: String =
    """WITH e AS (
      |  SELECT event_id, event_type,
      |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
      |    CAST(floor(value * 100.0) AS BIGINT) AS cents
      |  FROM events),
      |tgt AS (SELECT min(dt) AS td FROM e)
      |SELECT dt AS day, count(*) AS n_rows,
      |  CAST(sum(event_id) AS BIGINT) AS id_sum,
      |  CAST(sum(cents) AS BIGINT) AS cents_sum
      |FROM e, tgt
      |WHERE dt <> td OR event_type <> 'view'
      |GROUP BY 1""".stripMargin

  val s9cSql: String =
    """SELECT * FROM (VALUES
      |  (1, 'ID', 'DECIMAL', 8, FALSE),
      |  (2, 'NAME', 'VARCHAR', 10, TRUE),
      |  (3, 'CREATED', 'TIMESTAMP', 0, TRUE),
      |  (4, 'GUID', 'VARCHAR', 32, TRUE),
      |  (5, 'EXTRA_FLAG', 'VARCHAR', 20, TRUE)
      |) t(ordinal, column_name, type_name, width, nullable)""".stripMargin

  /** s20: deterministic epoch shuffle — the global training-order
    * shuffle every data-loading stack performs before an epoch,
    * expressed the only way it scales: a seeded 60-bit hash per doc
    * gives a reproducible random total order; docs hash-bucket into
    * shards (ONE exchange) and sort WITHIN the shard only — a global
    * orderBy is exactly the all-to-all sort a 100 TB corpus cannot
    * afford, and is unnecessary because readers consume shards
    * independently. The written layout is `shard=<i>/` parquet in
    * shuffled order; the report is per-shard accounting with an
    * order-SENSITIVE checksum (sum of rank × hash-residue), so the
    * oracle pins the assignment AND the within-shard permutation —
    * re-running with the same seed is byte-stable, a different seed
    * hash-mismatches. The spec additionally proves the physical file
    * order equals the claimed rank order.
    */
  /** s20's shard-count knob. The registered query pins 8 (and the
    * oracle is generated from THIS constant, so the two can never
    * disagree); a deployment sizes it as
    * `ceil(corpus_bytes / target_shard_bytes)` — shards are the unit
    * readers consume independently, so the count tracks the corpus,
    * not the cluster (a 100 TB corpus at 1 GiB shards → ~100k shards,
    * still one exchange). The physical-order contract below is
    * shard-count-sensitive (the non-stable-writer-sort bug class its
    * spec caught), so the spec asserts it at TWO counts.
    */
  val S20Shards = 8L

  /** The write half of s20, split out so the spec can read the
    * physical files back from a known root (and vary the shard
    * count).
    */
  private[graft] def writeEpochShuffle(s: SparkSession, d: String,
      root: String, shards: Long = S20Shards): Unit = {
    val docs = Tables.load(s, d, "documents")
      .withColumn("h", xhash64(concat_ws("|", lit("epoch1"),
        col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("h"), lit(shards)))
    // shard LEADS the within-partition sort: the partitioned writer
    // inserts its own (non-stable) sort on the partition column when
    // the requested ordering doesn't already start with it — which
    // would scramble the h order inside each shard file (observed)
    docs.select(col("doc_id"), col("h"), col("shard"))
      .repartition(shards.toInt, col("shard"))
      .sortWithinPartitions(col("shard"), col("h"), col("doc_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(root)
  }

  def s20EpochShuffle(s: SparkSession, d: String): DataFrame = {
    val root = tempDir("s20")
    writeEpochShuffle(s, d, root)
    // explicit schema: an EMPTY corpus writes no shard dirs, and
    // schema inference over zero parquet files throws (the sweep
    // class) — the declared schema degrades it to an empty frame
    val back = s.read.schema("doc_id LONG, h LONG, shard LONG")
      .parquet(root)
      .select(col("doc_id"), col("h"), col("shard").cast("long").as("shard"))
    val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
    back.withColumn("pos", row_number().over(w).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pos") * pmod(col("h"), lit(1000000L))).as("order_sum"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  val s20Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5('epoch1|' || CAST(doc_id AS VARCHAR)),
       |      1, 15) AS BIGINT) AS h
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, h, h % $S20Shards AS shard,
       |    row_number() OVER (PARTITION BY h % $S20Shards
       |      ORDER BY h, doc_id) AS pos
       |  FROM t)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(pos * (h % 1000000)) AS BIGINT) AS order_sum,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM r GROUP BY 1""".stripMargin

  // ------------------------------------------------------------- registry

  val registry: Seq[Query] = Seq(
    Query("s20_epoch_shuffle", s20EpochShuffle, s20Sql),
    Query("s7_parquet_roundtrip", s7ParquetRoundtrip, s7Sql),
    Query("s7b_jdbc_roundtrip", s7bJdbcRoundtrip, s7bSql),
    Query("s8_csv_roundtrip", s8CsvRoundtrip, s8Sql),
    Query("s8b_chunked_csv", s8bChunkedCsv, s8bSql),
    Query("s8c_csv_dialect", s8cCsvDialect, s8cSql),
    Query("s9b_json_roundtrip", s9bJsonRoundtrip, s9bSql),
    Query("s9c_ddl_apply", s9cDdlApply, s9cSql),
    Query("s9d_orc_roundtrip", s9dOrcRoundtrip, s9dSql),
    Query("s10_partitioned_pruning", s10PartitionedPruning, s10Sql),
    Query("s11_schema_evolution", s11SchemaEvolution, s11Sql),
    Query("s12_bucketed_join", s12BucketedJoin, s12Sql),
    Query("s13_compaction", s13Compaction, s13Sql),
    Query("s14_quarantine_read", s14QuarantineRead, s14Sql),
    Query("s15_range_layout", s15RangeLayout, s15Sql),
    Query("s16_zorder_layout", s16ZorderLayout, s16Sql),
    Query("s17_manifest_skipping", s17ManifestSkipping, s17Sql),
    Query("s18_overlap_depth", s18OverlapDepth, s18Sql),
    Query("s19_dynamic_overwrite", s19DynamicOverwrite, s19Sql),
    // orders keys are dense 0..N-1 at every sf: 15000 rows/sf0.01 →
    // ceil(15000/2000)=8 chunks; recomputed generically below.
    Query("s2_chunked_scan", s2ChunkedScan, s2SqlGeneric))

  /** sf-independent oracle: derive chunk count exactly as planChunks
    * does — ceil(rows/2000), capped by key span. `//` is DuckDB
    * integer division, matching Scala Long division.
    */
  lazy val s2SqlGeneric: String =
    """WITH b AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx,
      |                  count(*) AS n FROM orders),
      |p AS (SELECT mn, mx,
      |        CAST(least((n + 1999) // 2000, mx - mn + 1) AS BIGINT) AS k
      |      FROM b),
      |c AS (SELECT i AS chunk_id,
      |        mn + (mx - mn + 1) * i // k AS lo_bound,
      |        mn + (mx - mn + 1) * (i + 1) // k - 1 AS hi_bound
      |      FROM p, range(100000) r(i) WHERE i < k)
      |SELECT CAST(c.chunk_id AS INT) AS chunk_id, count(*) AS n_rows,
      |       min(o_orderkey) AS lo, max(o_orderkey) AS hi
      |FROM orders JOIN c
      |  ON o_orderkey BETWEEN c.lo_bound AND c.hi_bound
      |GROUP BY c.chunk_id""".stripMargin
}
