package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._

import graft.operators.Migrate
import graft.operators.Migrate.ChunkSpec

class MigrateSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("planChunks covers [min,max] exactly, no gaps, no overlaps") {
    val gen = for {
      minK <- Gen.choose(-1000L, 1000L)
      span <- Gen.choose(1L, 100000L)
      rows <- Gen.choose(1L, 200000L)
      chunkRows <- Gen.choose(1L, 5000L)
    } yield (minK, span, rows, chunkRows)
    val prop = Prop.forAll(gen) { case (minK, span, rows, chunkRows) =>
      val maxK = minK + span - 1
      val chunks = Migrate.planChunks(minK, maxK, rows, chunkRows)
      chunks.nonEmpty &&
        chunks.head.lower == minK && chunks.last.upper == maxK &&
        chunks.forall(c => c.lower <= c.upper) &&
        chunks.sliding(2).forall {
          case Seq(a: ChunkSpec, b: ChunkSpec) => b.lower == a.upper + 1
          case _ => true
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("planChunks: empty table and inverted range give no chunks") {
    assert(Migrate.planChunks(0, 100, 0, 10).isEmpty)
    assert(Migrate.planChunks(100, 0, 50, 10).isEmpty)
  }

  test("planChunks pinned at maxKey == Long.MaxValue (no transient " +
    "minKey + span overflow on the last bound)") {
    for (chunks <- Seq(1L, 7L, 1000L)) {
      val plan = Migrate.planChunks(Long.MaxValue - 100000,
        Long.MaxValue, 100000, 100000 / chunks + 1)
      assert(plan.head.lower == Long.MaxValue - 100000)
      assert(plan.last.upper == Long.MaxValue)
      assert(plan.forall(c => c.lower <= c.upper))
      assert(plan.sliding(2).forall {
        case Seq(a: ChunkSpec, b: ChunkSpec) => b.lower == a.upper + 1
        case _ => true
      })
    }
    // full-range table: span itself would overflow — the guard rejects
    // it loudly instead of planning garbage
    assertThrows[IllegalArgumentException] {
      Migrate.planChunks(Long.MinValue, Long.MaxValue, 100, 10)
    }
  }

  test("planChunks holds at 100 TB key ranges (no span*i Long overflow)") {
    val gen = for {
      minK <- Gen.choose(0L, 1L << 62)
      span <- Gen.choose(1L, 1L << 52)
      rows <- Gen.choose(1L, 1L << 40)
      chunkRows <- Gen.choose(1L, 1L << 30)
    } yield (minK, span, rows, chunkRows)
    val prop = Prop.forAll(gen) { case (minK, span, rows, chunkRows) =>
      val maxK = minK + span - 1
      val chunks = Migrate.planChunks(minK, maxK, rows, chunkRows)
      chunks.nonEmpty &&
        chunks.head.lower == minK && chunks.last.upper == maxK &&
        chunks.forall(c => c.lower <= c.upper) &&
        chunks.sliding(2).forall {
          case Seq(a: ChunkSpec, b: ChunkSpec) => b.lower == a.upper + 1
          case _ => true
        }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
    // the concrete shape that overflowed span*i: 2^52 keys, 4096 chunks
    val big = Migrate.planChunks(0L, (1L << 52) - 1, 1L << 22, 1L << 10)
    assert(big.head.lower == 0L && big.last.upper == (1L << 52) - 1)
    assert(big.sliding(2).forall {
      case Seq(a, b) => b.lower == a.upper + 1
      case _ => true
    })
    // a plan that ASKS for 2^40 chunks: a bare Long→Int truncation
    // planned ZERO chunks here (and n=0 would now divide by zero) —
    // the cap must widen chunks instead, still covering exactly
    val huge = Migrate.planChunks(0L, (1L << 52) - 1, 1L << 40, 1L)
    assert(huge.length == Migrate.MaxPlannedChunks.toInt)
    assert(huge.head.lower == 0L && huge.last.upper == (1L << 52) - 1)
    assert(huge.sliding(2).forall {
      case Seq(a, b) => b.lower == a.upper + 1
      case _ => true
    })
  }

  test("scratchParent: an explicit scratch dir must be a writable " +
      "directory; without one, /dev/shm then java.io.tmpdir") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_scratch_spec")
    val file = Files.createTempFile("graft_scratch_spec", ".txt")
    try {
      assert(Migrate.scratchParent(Some(dir.toString)) == dir)
      for (bad <- Seq(file.toString, s"$dir/missing")) {
        val e = intercept[IllegalArgumentException](
          Migrate.scratchParent(Some(bad)))
        assert(e.getMessage.contains(s"SPARK_GRAFT_STREAM_SCRATCH=$bad"),
          e.getMessage)
      }
      val shm = Paths.get("/dev/shm")
      val fallback =
        if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
        else Paths.get(System.getProperty("java.io.tmpdir"))
      assert(Migrate.scratchParent(None) == fallback)
    } finally { Files.delete(file); Files.delete(dir) }
  }

  test("csv roundtrip preserves hostile values exactly") {
    val back = Migrate.s8CsvRoundtrip(spark, sf).cache()
    // quote/backslash payloads survive
    val hostile = back.filter(col("o_orderkey") % 7 === 2)
      .select("payload").distinct().collect().map(_.getString(0))
    assert(hostile.forall(_.startsWith("a,b\"q\"\\")), hostile.mkString(","))
    // '' and NULL both canonicalize to NULL
    val empt = back.filter(col("o_orderkey") % 7 === 1 || col("o_orderkey") % 7 === 0)
      .select("payload").distinct().collect().map(_.getString(0))
    assert(empt.toSeq == Seq("NULL"))
    // padding preserved
    val pad = back.filter(col("o_orderkey") % 7 === 3)
      .select("payload").distinct().collect().map(_.getString(0))
    assert(pad.toSeq == Seq("  pad  "))
    back.unpersist()
  }

  test("parquet roundtrip preserves row counts per chunk") {
    val rt = Migrate.s7ParquetRoundtrip(spark, sf)
    val total = rt.agg(sum("n_rows")).head.getLong(0)
    assert(total == Tables.load(spark, sf, "lineitem").count())
  }

  test("jdbc sink: overwrite re-run is idempotent, chunked read complete") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby").toString
    System.setProperty("derby.system.home", dbDir)
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val src = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey")).limit(500)
    Migrate.runJdbc(src, url, "T1", batchSize = 100)
    Migrate.runJdbc(src, url, "T1", batchSize = 100) // truncate-before-load
    val back = Migrate.readJdbcChunked(spark, url, "T1", "o_orderkey",
      0, 1000000, 4)
    assert(back.count() == src.count())
    assert(back.rdd.getNumPartitions == 4)
  }

  test("s10: partition filter reaches the scan (pruning, not row filter)") {
    val out = java.nio.file.Files.createTempDirectory("graft_s10p").toString
    Migrate.partitionedWrite(spark, sf, out)
    val pruned = Migrate.prunedReadBack(spark, out)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan.take(2000))
    assert(plan.contains("l_returnflag"), plan.take(2000))
    // the partition predicate must NOT degrade into a post-scan Filter
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.matches(".*PartitionFilters: \\[[^\\]]+\\].*"), scanLine)
    // and the pruned read returns only the 'R' rows
    val expected = Tables.load(spark, sf, "lineitem")
      .filter(col("l_returnflag") === "R").count()
    assert(pruned.agg(sum("n_rows")).head.getLong(0) == expected)
  }

  test("s8b: chunked csv layout lands one directory per chunk") {
    val out = java.nio.file.Files.createTempDirectory("graft_s8bt").toString
    Migrate.chunkedCsvWrite(spark, sf, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == (0 until 4).map(i => s"chunk_id=$i").toSet, dirs.toString)
    // every chunk directory holds its own csv part files — the
    // per-chunk-file property SCHEMA.TABLE.<i>.csv naming provides
    assert(dirs.forall(dn => new java.io.File(s"$out/$dn").listFiles()
      .exists(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".csv"))))
    // read-back re-materializes chunk membership from directory names
    val back = Migrate.s8bChunkedCsv(spark, sf)
    assert(back.filter(col("chunk_id") =!=
      pmod(col("o_orderkey"), lit(4)).cast("int")).isEmpty)
  }

  test("s12: bucketed join plan has zero Exchange (co-located at rest)") {
    Migrate.bucketedWrite(spark, sf,
      Migrate.tempDir("s12o_t"), Migrate.tempDir("s12c_t"))
    // disable broadcast so the layout (not the dim size) decides the plan
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val j = Migrate.bucketedJoin(spark)
      val plan = j.queryExecution.sparkPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange"), plan.take(2000))
      // layout fidelity: the shuffle-free join sees every row
      val expected = Tables.load(spark, sf, "orders").count()
      assert(j.count() == expected)
    } finally spark.conf.set(key, prev)
  }

  test("s13: compaction collapses 64 shards into size-targeted files") {
    val frag = Migrate.tempDir("s13f_t")
    val comp = Migrate.tempDir("s13c_t")
    val src = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    src.repartition(64).write.mode("overwrite").parquet(frag)
    def parts(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(frag) == 64)
    val n = Migrate.compact(spark, frag, comp, 32L << 20)
    assert(n == 1) // 1.5k rows of two longs is far under 32 MB
    assert(parts(comp) == n)
    // lossless: every row survives, none duplicated
    assert(spark.read.parquet(comp).exceptAll(src).isEmpty)
    assert(src.exceptAll(spark.read.parquet(comp)).isEmpty)
  }

  test("compact sizes a PARTITIONED layout from real bytes, not zero") {
    val frag = Migrate.tempDir("s13p_t")
    val comp = Migrate.tempDir("s13pc_t")
    // key=... subdirectories: a non-recursive listing sums 0 bytes
    // here and would silently compact everything to 1 file
    Tables.load(spark, sf, "lineitem")
      .withColumn("part", col("l_orderkey") % 4)
      .repartition(16)
      .write.partitionBy("part").mode("overwrite").parquet(frag)
    // target small enough that the true byte count demands >1 file
    val bytes = {
      def walk(f: java.io.File): Long =
        if (f.isFile)
          (if (f.getName.startsWith("part-")) f.length else 0L)
        else f.listFiles().map(walk).sum
      walk(new java.io.File(frag))
    }
    assert(bytes > 0)
    val n = Migrate.compact(spark, frag, comp, targetBytes = bytes / 3)
    assert(n >= 3, s"n=$n from bytes=$bytes — recursive sizing regressed")
    // lossless across the layout change (partition column re-read)
    assert(spark.read.parquet(comp).count() ==
      Tables.load(spark, sf, "lineitem").count())
  }

  test("s16: z-order layout prunes a 2-D box to a strict file subset") {
    import org.apache.spark.sql.functions.input_file_name
    val zout = Migrate.tempDir("s16z_t")
    val rout = Migrate.tempDir("s16r_t")
    Migrate.zOrderWrite(spark, sf, zout, files = 8)
    // contrast layout: clustered on orderkey ONLY — the second
    // dimension's values spread across every file
    Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(rout)
    def filesTouched(dir: String, pred: org.apache.spark.sql.Column) =
      spark.read.parquet(dir).filter(pred)
        .select(input_file_name()).distinct().count()
    def totalFiles(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    // a box tight in BOTH dims (the z-order win condition)
    val box = col("l_orderkey").between(2000, 2999) &&
      col("l_partkey").between(100, 299)
    assert(totalFiles(zout) == 8 && totalFiles(rout) == 8)
    val zTouched = filesTouched(zout, box)
    assert(zTouched < 8,
      s"z-order box scan touched all $zTouched files — no pruning")
    // the partkey-only predicate is where single-dim range layout
    // cannot prune but z-order still can
    val partOnly = col("l_partkey").between(100, 299)
    assert(filesTouched(zout, partOnly) <= filesTouched(rout, partOnly),
      "z-order pruned the second dimension worse than a layout that " +
        "never sorted on it")
    // and the box read is lossless vs the source
    val expected = Tables.load(spark, sf, "lineitem").filter(box).count()
    assert(spark.read.parquet(zout).filter(box).count() == expected)
  }

  test("s15: range layout gives disjoint per-file key ranges") {
    val out = Migrate.tempDir("s15_t")
    Migrate.rangeLayoutWrite(spark, sf, out, files = 4)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length == 4, files.length.toString)
    // per-file [min,max] on the sort key must not overlap — this is
    // the property that makes footer stats prune range queries
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("l_orderkey"), max("l_orderkey")).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"overlapping file ranges: $hi >= $lo2")
      case _ =>
    }
    // lossless: clustered copy holds every source row exactly once
    val n = spark.read.parquet(out).count()
    assert(n == Tables.load(spark, sf, "lineitem").count())
  }

  test("overwrite sink replaces prior contents (truncate-before-load)") {
    val out = java.nio.file.Files.createTempDirectory("graft_s10").toString
    val o = Tables.load(spark, sf, "orders")
    Migrate.run(o.limit(10), out)
    Migrate.run(o, out)
    assert(spark.read.parquet(out).count() == o.count())
  }

  test("s17 manifest skipping: strict file subset read, losslessly") {
    val out = Migrate.tempDir("s17spec")
    Migrate.manifestWrite(spark, sf, out, files = 8)
    val man = spark.read.parquet(s"$out/manifest")
    assert(man.count() == 8, "range layout should emit one row per file")
    // disjoint file ranges (the property that makes stats prune):
    // total rows across manifest == total data rows
    val data = spark.read.parquet(s"$out/data")
    assert(man.agg(sum("n_rows")).head.getLong(0) == data.count())
    val lo = 1000L; val hi = 4000L
    val (scan, nPicked, nTotal) = Migrate.manifestPrunedRead(spark, out, lo, hi)
    assert(nPicked < nTotal,
      s"manifest pruned nothing: $nPicked of $nTotal files read")
    assert(nPicked > 0)
    // losslessness: pruned scan == full scan under the same predicate
    val full = data.filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
    assert(scan.count() == full.count())
    assert(scan.exceptAll(full).isEmpty && full.exceptAll(scan).isEmpty)
    // a window past every file prunes ALL of them and answers from
    // schema alone — the best-case plan, not an error
    val (empty, n0, _) =
      Migrate.manifestPrunedRead(spark, out, Long.MaxValue - 1, Long.MaxValue)
    assert(n0 == 0 && empty.count() == 0)
    assert(empty.schema == data.schema)
  }

  test("s8c dialect round-trip: render→tokenize→parse is identity on " +
    "arbitrary strings (property)") {
    import spark.implicits._
    // hostile generator: dialect metacharacters, escapes, the NULL
    // token, CR/LF, unicode — everything except NUL (documented out
    // of scope: it is the unescape sentinel and the text sink's limit)
    val atom = Gen.frequency(
      6 -> Gen.alphaNumStr.map(_.take(8)),
      3 -> Gen.oneOf("|#|", "|+|", "\r\n", "\r", "\n", "\"", "\\",
        "\\\\", "\\\"", "NULL", "\"NULL\"", "", " ", "|", "#", "+",
        "é中文"),
      1 -> Gen.listOfN(3, Gen.choose(' ', '߿')).map(_.mkString))
    val gen = Gen.listOfN(40,
      Gen.option(Gen.listOfN(4, atom).map(_.mkString)))
    val prop = Prop.forAll(gen) { payloads =>
      val df = payloads.zipWithIndex
        .map { case (p, i) => (i.toLong, p.orNull) }.toDF("i", "p")
      // one rendered line per row, three fields so mid-line and
      // line-final token extraction both run
      val rendered = df.select(col("i"),
        concat_ws(Migrate.DialectSep,
          Migrate.dialectRender(col("i").cast("string")),
          Migrate.dialectRender(col("p")),
          Migrate.dialectRender(lit("tail"))).as("value"))
      val back = rendered.select(col("i"),
        regexp_extract_all(col("value"),
          lit(Migrate.DialectFieldRe), lit(0)).as("f"))
        .select(col("i"),
          Migrate.dialectField(element_at(col("f"), 2)).as("rt"),
          size(col("f")).as("nf"))
        .collect().map(r => r.getLong(0) ->
          ((Option(r.getString(1)), r.getInt(2)))).toMap
      payloads.zipWithIndex.forall { case (p, i) =>
        back(i.toLong) == ((p, 3))
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30),
      prop)
    assert(res.passed, res.status.toString)
  }

  test("s8c dialect bytes: separator/terminator/NULL-token/escapes " +
    "appear RAW on disk") {
    val out = java.nio.file.Files.createTempDirectory("graft_s8c").toString
    Migrate.csvDialectWrite(spark, sf, out)
    val bytes = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".txt"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")).mkString
    // the dialect, byte-for-byte (config.toml:68-80): fields joined by
    // the multi-char separator, rows ended by the multi-char
    // terminator, SQL NULL as a bare unquoted token, and raw CR LF
    // impossible outside terminators (escape-backslash escapes them)
    assert(bytes.contains(Migrate.DialectSep))
    assert(bytes.contains(Migrate.DialectTerm))
    assert(bytes.contains(Migrate.DialectSep + "NULL" + Migrate.DialectSep),
      "bare NULL token for SQL NULL payloads")
    assert(bytes.contains("\\r\\n"), "escaped CR LF inside fields")
    val noTerms = bytes.split(java.util.regex.Pattern.quote(
      Migrate.DialectTerm), -1)
    assert(noTerms.forall(r => !r.contains("\r") && !r.contains("\n")),
      "raw CR/LF must only occur as part of the terminator")
    // and the literal string "NULL" payload stays QUOTED — distinct
    // from the bare token
    assert(bytes.contains("\"NULL\""))
  }

  private def depthRow(man: Seq[(String, Long, Long, Long)]) = {
    import spark.implicits._
    val got = Migrate.overlapDepth(
      man.toDF("layout", "file_id", "min_key", "max_key")).collect()
    assert(got.length == 1)
    val r = got.head
    (r.getAs[Long]("n_files"), r.getAs[Long]("max_depth"),
      r.getAs[Long]("depth_area"), r.getAs[Long]("span"),
      r.getAs[Long]("avg_depth_x1e6"))
  }

  test("overlapDepth: hand-computed sweep over a 3-file manifest") {
    // files [0,9],[5,14],[20,29]: depth profile 1,2,1,0,1 over
    // segments of 5,5,5,5,10 -> area 30 across span 30, peak 2
    assert(depthRow(Seq(("x", 0L, 0L, 9L), ("x", 1L, 5L, 14L),
      ("x", 2L, 20L, 29L))) == ((3L, 2L, 30L, 30L, 1000000L)))
  }

  test("overlapDepth: files touching at one key count as overlapping") {
    // [0,9],[9,20] share key 9: depths 1,2,1 over 9,1,11 -> area 22
    assert(depthRow(Seq(("x", 0L, 0L, 9L), ("x", 1L, 9L, 20L))) ==
      ((2L, 2L, 22L, 21L, 1047619L)))
  }

  test("overlapDepth: back-to-back disjoint ranges do not overlap") {
    // [0,4],[5,9] share no key: the close event at 5 (exclusive end)
    // applies before the open event at 5, so depth never exceeds 1
    assert(depthRow(Seq(("x", 0L, 0L, 4L), ("x", 1L, 5L, 9L))) ==
      ((2L, 1L, 10L, 10L, 1000000L)))
  }

  test("overlapDepth: disjoint files with a gap stay at depth 1") {
    // [0,4],[10,14]: the gap [5,9] contributes depth 0 to the area
    assert(depthRow(Seq(("x", 0L, 0L, 4L), ("x", 1L, 10L, 14L))) ==
      ((2L, 1L, 10L, 15L, 666666L)))
  }

  // the order contract is shard-count-sensitive (the non-stable
  // writer re-sort this spec caught depends on how rows pack into
  // partitions), so assert it at the pinned count AND a second one
  for (shards <- Seq(Migrate.S20Shards, 3L))
  test(s"s20: shard files physically hold the seeded shuffle order " +
    s"at $shards shards") {
    val root = java.nio.file.Files.createTempDirectory("graft_s20")
      .toString
    Migrate.writeEpochShuffle(spark, sf, root, shards)
    val shardDirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == shards)
    for (dir <- shardDirs) {
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${dir.getName}: one exchange must yield one file per shard")
      // a single small file reads back as one ordered partition — the
      // on-disk sequence IS the training order the operator claims
      val rows = spark.read.parquet(files.head.getPath)
        .select("h", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.nonEmpty)
      assert(rows.sameElements(rows.sortBy(identity)),
        s"${dir.getName}: physical order is not the (h, doc_id) order")
      // and the order is a genuine shuffle, not doc_id order (only
      // meaningful once a shard holds enough docs that a sorted
      // permutation can't happen by chance)
      if (rows.length >= 5)
        assert(!rows.map(_._2).sameElements(rows.map(_._2).sorted))
    }
  }

  test("s19: dynamic overwrite replaces only the restated partition's " +
    "files") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_s19")
      .toString + "/t"
    Seq((1L, "view", "2024-01-01", 10L), (2L, "click", "2024-01-01", 20L),
      (3L, "view", "2024-01-02", 30L))
      .toDF("event_id", "event_type", "dt", "cents")
      .write.partitionBy("dt").mode("overwrite").parquet(root)
    def files(day: String): Seq[String] =
      new java.io.File(s"$root/dt=$day").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    val untouchedBefore = files("2024-01-02")
    val restatedBefore = files("2024-01-01")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try Seq((2L, "click", "2024-01-01", 20L))
      .toDF("event_id", "event_type", "dt", "cents")
      .write.partitionBy("dt").mode("overwrite").parquet(root)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // byte-identical file set in the partition the job never wrote;
    // the restated partition's old files are GONE (replaced, not
    // appended beside)
    assert(files("2024-01-02") == untouchedBefore)
    assert(files("2024-01-01").intersect(restatedBefore).isEmpty)
    // partition-value inference types dt as DATE on read — cast back
    // (the operator does the same before grouping)
    val got = spark.read.parquet(root).orderBy("event_id")
      .select(col("event_id"), col("dt").cast("string")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((2L, "2024-01-01"), (3L, "2024-01-02")))
  }

  test("overlapDepth matches brute-force point coverage on random " +
    "manifests") {
    import spark.implicits._
    // 30 random layouts in ONE frame (one Spark job, not 30): depth
    // is piecewise-constant changing only at event positions, so the
    // brute force evaluates coverage at every +1/-1 position and
    // integrates the half-open segments between them
    val rnd = new scala.util.Random(42)
    val layouts = (0 until 30).map { li =>
      val files = (0 to rnd.nextInt(11)).map { fi =>
        val lo = rnd.nextInt(100).toLong
        (s"L$li", fi.toLong, lo, lo + rnd.nextInt(40))
      }
      s"L$li" -> files
    }
    val man = layouts.flatMap(_._2)
      .toDF("layout", "file_id", "min_key", "max_key")
    val got = Migrate.overlapDepth(man).collect()
      .map(r => r.getAs[String]("layout") ->
        (r.getAs[Long]("n_files"), r.getAs[Long]("max_depth"),
          r.getAs[Long]("depth_area"), r.getAs[Long]("span"))).toMap
    for ((name, files) <- layouts) {
      val iv = files.map { case (_, _, lo, hi) => (lo, hi) }
      val events = (iv.map(_._1) ++ iv.map(_._2 + 1)).distinct.sorted
      def cover(p: Long) = iv.count { case (lo, hi) => lo <= p && p <= hi }
      val maxDepth = events.map(cover).max
      val area = events.sliding(2).collect {
        case Seq(a, b) => cover(a) * (b - a)
      }.sum
      val span = iv.map(_._2).max + 1 - iv.map(_._1).min
      assert(got(name) == ((iv.length.toLong, maxDepth.toLong, area, span)),
        s"$name: got ${got(name)}, brute ($maxDepth, $area, $span)")
    }
  }

  test("s18: clustered layout is depth 1, scattered is depth n_files") {
    val rows = Migrate.s18OverlapDepth(spark, sf).collect()
      .map(r => r.getAs[String]("layout") ->
        (r.getAs[Long]("n_files"), r.getAs[Long]("max_depth"))).toMap
    val (nc, dc) = rows("clustered")
    val (ns, ds) = rows("scattered")
    assert(dc == 1L, s"range-disjoint files must never overlap: $dc")
    assert(ds == ns, s"round-robin files all span the range: $ds != $ns")
  }
}
