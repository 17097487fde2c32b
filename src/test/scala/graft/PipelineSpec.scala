package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ledger, Pipeline}

/** Failure-injection resume proof for the composed task-mode pipeline
  * (the reference's checkpoint triage, `full.go:287-331`): kill the
  * run at the WORST point — after a wave's target write, before its
  * ledger mark — then rerun and assert (a) completed waves are
  * skipped, (b) the killed wave re-runs idempotently, (c) the final
  * compare is clean.
  */
class PipelineSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def freshWork() =
    java.nio.file.Files.createTempDirectory("graft_pipe").toString

  /** Staged/compacted dirs are writer-unique (nonce-suffixed) since
    * the commit-conflict fixes — specs resolve the actual path from
    * the manifest by version + marker instead of hard-coding names.
    */
  private def pathLike(root: String, v: Long, marker: String): String = {
    val ps = Pipeline.readLog(spark, root).paths(v).filter(_.contains(marker))
    assert(ps.length == 1,
      s"expected one v$v path containing '$marker', got ${ps.toSeq}")
    ps.head
  }

  private def dirNames(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles())
      .map(_.map(_.getName).toSeq).getOrElse(Nil)

  test("planFixedWidth covers [min,max] exactly, no overlap, SQL-invertible") {
    val (kw, chunks) = Pipeline.planFixedWidth(10, 10009, 5000, 1000)
    assert(chunks.head.lower == 10 && chunks.last.upper == 10009)
    chunks.sliding(2).foreach {
      case Seq(a, b) => assert(b.lower == a.upper + 1)
      case _ => ()
    }
    // chunk_id must equal the closed form the oracle computes
    chunks.foreach { c =>
      assert((c.lower - 10) / kw == c.id && (c.upper - 10) / kw == c.id)
    }
  }

  test("planFixedWidth holds at 100 TB key ranges (property: coverage, " +
    "contiguity, div-invertibility, no Long overflow)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      // spans up to 2^52 keys starting anywhere up to 2^62 — the
      // surrogate-key territory where IEEE double division and
      // additive ceil-division both break
      minK <- Gen.choose(0L, 1L << 62)
      span <- Gen.choose(1L, 1L << 52)
      cnt <- Gen.choose(1L, 1L << 40)
      chunkRows <- Gen.choose(1L, 1L << 30)
      probe <- Gen.choose(0L, Long.MaxValue)
    } yield (minK, span, cnt, chunkRows, probe)
    val prop = Prop.forAll(gen) { case (minK, span, cnt, chunkRows, probe) =>
      val maxK = minK + span - 1
      val (kw, chunks) = Pipeline.planFixedWidth(minK, maxK, cnt, chunkRows)
      val key = minK + probe % span // uniform key inside the range
      val owner = chunks.find(c => c.lower <= key && key <= c.upper)
      chunks.head.lower == minK && chunks.last.upper == maxK &&
        chunks.forall(c => c.lower <= c.upper) &&
        chunks.sliding(2).forall {
          case Seq(a, b) => b.lower == a.upper + 1
          case _ => true
        } &&
        // every in-range key belongs to exactly the chunk the oracle's
        // closed form (key - minK) div kw names
        owner.exists(_.id == (key - minK) / kw)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
    // the hard edges the additive ceil form overflowed on
    val (_, top) = Pipeline.planFixedWidth(
      Long.MaxValue - 1000, Long.MaxValue - 1, 10000L, 100L)
    assert(top.head.lower == Long.MaxValue - 1000 &&
      top.last.upper == Long.MaxValue - 1)
    val (_, one) = Pipeline.planFixedWidth(Long.MaxValue - 1,
      Long.MaxValue - 1, 1L, 1L)
    assert(one == Seq(graft.operators.Migrate.ChunkSpec(0,
      Long.MaxValue - 1, Long.MaxValue - 1)))
    // a full-Long span cannot be planned exactly — refuse loudly
    intercept[IllegalArgumentException] {
      Pipeline.planFixedWidth(Long.MinValue, Long.MaxValue, 10L, 1L)
    }
    // 2^40 requested chunks: truncation through Int returned an EMPTY
    // plan here — the cap must bound the count while keeping coverage
    // and the div-invertible id formula
    val (hkw, huge) = Pipeline.planFixedWidth(0L, (1L << 52) - 1,
      1L << 40, 1L)
    assert(huge.nonEmpty &&
      huge.length <= graft.operators.Migrate.MaxPlannedChunks.toInt)
    assert(huge.head.lower == 0L && huge.last.upper == (1L << 52) - 1)
    assert(huge.forall(c => c.lower / hkw == c.id && c.upper / hkw == c.id))
    ()
  }

  test("planKey: no plan on empty input, planFixedWidth's plan when " +
    "split, one chunk 0 when unsplit, a span past Long rejected") {
    import spark.implicits._
    assert(Pipeline.planKey(Seq.empty[Long].toDF("k"), "k", 10L).isEmpty)
    val small = (10L to 10009L).toDF("k")
    val p = Pipeline.planKey(small, "k", 1000L).get
    assert((p.kw, p.chunks) == Pipeline.planFixedWidth(10, 10009, 10000, 1000))
    // a key span wider than Long.MaxValue / 4 still lands in one chunk
    val wide = Seq(-(1L << 61), 0L, 1L << 61).toDF("k")
    val one = Pipeline.planKey(wide, "k", 1L, split = false).get
    assert(one.chunks.length == 1)
    assert(wide.select(one.chunkOf("k")).as[Long].collect().toSet == Set(0L))
    // a span of 2^63 + 1 keys wraps Long: rejected split or not
    val past = Seq(-(1L << 62), 1L << 62).toDF("k")
    for (split <- Seq(true, false)) {
      val e = intercept[IllegalArgumentException](
        Pipeline.planKey(past, "k", 1L, split = split))
      assert(e.getMessage.contains("exceeds the Long range"), e.getMessage)
    }
  }

  test("crash between wave write and mark: rerun skips done, re-runs " +
    "the unmarked wave idempotently, compare is clean") {
    val work = freshWork()
    val task = "pipe-resume-test"

    // run 1: crash after the SECOND wave's write, before its mark
    var wavesWritten = 0
    val boom = intercept[RuntimeException] {
      Pipeline.runMigration(spark, sf, work, task, chunkRows = 200,
        waveSize = 2, failpoint = l => {
          if (l.startsWith("wave_written:")) {
            wavesWritten += 1
            if (wavesWritten == 2) throw new RuntimeException("injected")
          }
        })
    }
    assert(boom.getMessage == "injected")

    // the ledger recorded exactly wave 1's chunks as SUCCESS; wave 2's
    // rows ARE in the target but unmarked (the hard crash window)
    val st1 = Ledger.state(spark, s"$work/ledger", task, "orders").collect()
    val done1 = st1.filter(_.getAs[String]("status") == Ledger.Success)
      .map(_.getAs[Int]("chunk_id")).toSet
    assert(done1 == Set(0, 1), s"expected wave-1 chunks done, got $done1")

    // run 2: same workDir+task resumes; record which waves run
    val waves2 = scala.collection.mutable.ArrayBuffer.empty[String]
    val report = Pipeline.runMigration(spark, sf, work, task,
      chunkRows = 200, waveSize = 2, failpoint = l =>
        if (l.startsWith("wave_start:")) waves2 += l.stripPrefix("wave_start:"))
      .collect()

    // completed chunks 0,1 never re-ran; the unmarked wave (2,3) did
    val rerunIds = waves2.flatMap(_.split(",")).map(_.toInt).toSet
    assert(!rerunIds.contains(0) && !rerunIds.contains(1),
      s"resume re-ran completed chunks: $waves2")
    assert(rerunIds.contains(2) && rerunIds.contains(3),
      s"resume skipped the unmarked wave: $waves2")

    // end state: every chunk matched, zero fix actions — the killed
    // wave's delete-before-insert made its re-run lossless, not doubled
    assert(report.nonEmpty)
    report.foreach { r =>
      assert(r.getAs[Boolean]("matched"),
        s"chunk ${r.getAs[Long]("chunk_id")} mismatched after resume")
      assert(r.getAs[Long]("n_fix") == 0L)
    }
    val nRows = report.map(_.getAs[Long]("n_rows")).sum
    val expected = Tables.load(spark, sf, "orders").count()
    assert(nRows == expected, s"migrated $nRows of $expected rows")

    // and the ledger now shows the full plan done
    val st2 = Ledger.state(spark, s"$work/ledger", task, "orders").collect()
    assert(st2.forall(_.getAs[String]("status") == Ledger.Success))
  }

  test("clean run end-to-end: all chunks matched, artifact written") {
    val work = freshWork()
    val report = Pipeline.runMigration(spark, sf, work, "pipe-clean")
      .collect()
    assert(report.nonEmpty)
    assert(report.forall(_.getAs[Boolean]("matched")))
    assert(report.forall(_.getAs[Long]("n_fix") == 0L))
    // S9 artifact: the reverse DDL landed as a file
    val ddl = java.nio.file.Files.readString(
      java.nio.file.Path.of(s"$work/reverse_orders.sql"))
    assert(ddl.contains("CREATE TABLE ORDERS_PIPE"))
    assert(ddl.contains("\"o_orderkey\" BIGINT"))
  }

  test("pipe14: audit gates hold a corrupted candidate back") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    def gateMap(staged: org.apache.spark.sql.DataFrame) =
      Pipeline.wapAudit(docs, staged).collect()
        .map(r => r.getAs[String]("gate") -> r.getAs[Boolean]("pass"))
        .toMap
    // the corpus against itself: every gate green
    assert(gateMap(docs).values.forall(identity))
    // a language silently dropped upstream -> the TVD gate (and only
    // a share-sensitive gate) must catch it
    val noEn = gateMap(docs.filter(col("lang") =!= "en"))
    assert(!noEn("lang_tvd"))
    assert(noEn("null_text") && noEn("dup_rate"))
    // text payloads nulled by a broken writer -> the null gate fires
    val nulled = gateMap(docs.withColumn("text",
      when(col("doc_id") % 7 === 0, lit(null: String))
        .otherwise(col("text"))))
    assert(!nulled("null_text"))
    // ...and ONLY the null gate: md5(NULL) is NULL, so a fingerprint
    // over the full frame would double-charge every null payload to
    // dup_rate too (review finding) — dup_rate measures duplication
    // among the real payloads
    assert(nulled("dup_rate"))
    // a doubled snapshot (upstream re-append): every row now has an
    // exact duplicate -> dup_rate fires (the 2.0x row ratio itself
    // sits ON the inclusive bound, deliberately tolerated)
    val doubled = gateMap(docs.unionAll(docs))
    assert(!doubled("dup_rate") && doubled("rows_ratio"))
    // a snapshot that lost most of its rows -> rows_ratio floor
    assert(!gateMap(docs.filter(col("doc_id") % 10 === 0))("rows_ratio"))
  }

  test("pipe15: admission accounting is exact and a poisoned shard " +
    "holds the publish") {
    import org.apache.spark.sql.functions._
    val rows = Pipeline.pipe15IncrementalWap(spark, sf).collect()
      .map(r => r.getAs[String]("gate") ->
        (r.getAs[Long]("value_x1e6"), r.getAs[Boolean]("pass"))).toMap
    // admitted + rejected partition the shard exactly
    val docs = Tables.load(spark, sf, "documents")
    val nShard = docs.filter(col("doc_id") % 5 === 4).count()
    assert(rows("admitted_new")._1 + rows("rejected_dup")._1 == nShard)
    // independent recount of the admission rule: shard fingerprints
    // not in the published set, first doc per fingerprint
    val fp = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
    val pub = docs.filter(col("doc_id") % 5 =!= 4).select(fp.as("f"))
      .distinct()
    val expectAdmit = docs.filter(col("doc_id") % 5 === 4)
      .withColumn("f", fp).join(pub, Seq("f"), "left_anti")
      .select("f").distinct().count()
    assert(rows("admitted_new")._1 == expectAdmit)
    assert(rows("published_version")._1 == 2L,
      "clean shard must publish v2")
    // a poisoned shard (every arriving payload NULL) must hold: null
    // payloads carry no fingerprint, so they are NOT "duplicates" —
    // the WHOLE shard flows to staging and the null_text gate (not
    // rejected_dup) judges it; the manifest stays at v1
    val tmp = java.nio.file.Files.createTempDirectory("graft_p15")
      .toString
    docs.withColumn("text",
        when(col("doc_id") % 5 === 4, lit(null: String))
          .otherwise(col("text")))
      .write.parquet(s"$tmp/documents.parquet")
    val held = Pipeline.pipe15IncrementalWap(spark, tmp).collect()
      .map(r => r.getAs[String]("gate") ->
        (r.getAs[Long]("value_x1e6"), r.getAs[Boolean]("pass"))).toMap
    assert(!held("null_text")._2, "null payloads must fail the gate")
    assert(held("admitted_new")._1 == nShard && held(
      "rejected_dup")._1 == 0L,
      "null payloads must not be absorbed into rejected_dup")
    assert(held("published_version")._1 == 1L && !held(
      "published_version")._2, "poisoned shard must not publish")
  }

  test("pipe15: staging is metadata-only — published v1 files are " +
    "untouched and the stage dir holds only the admitted shard") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_p15m")
      .toString
    Pipeline.pipe15PublishV1(spark, sf, root)
    // file-level snapshot of the published corpus BEFORE staging
    // (the s19 contract pattern): name, length, and mtime per file
    def v1Files(): Map[String, (Long, Long)] =
      new java.io.File(s"$root/data/v1").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    val before = v1Files()
    assert(before.nonEmpty)
    val report = Pipeline.pipe15Admit(spark, sf, root).collect()
      .map(r => r.getAs[String]("gate") -> r.getAs[Long]("value_x1e6"))
      .toMap
    // byte-identical published file set: staging referenced v1, it
    // never rewrote or appended beside it
    assert(v1Files() == before,
      "staging must not touch published v1 files")
    // the stage dir holds EXACTLY the admitted shard rows — not a
    // copy of the published corpus
    val staged = spark.read.parquet(pathLike(root, 2L, "v2_admitted"))
    assert(staged.count() == report("admitted_new"))
    val docs = Tables.load(spark, sf, "documents")
    val shardIds = docs.filter(col("doc_id") % 5 === 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val stagedIds = staged.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(stagedIds.subsetOf(shardIds),
      "stage dir must contain only shard docs")
    // published v2 resolves to v1 files + admitted files via the
    // manifest alone: reading the union reproduces published ∪ kept
    val log = Pipeline.readLog(spark, root)
    val vMax = log.tip
    assert(vMax == 2L)
    val paths = log.rows.filter(_._1 == vMax).map(_._2)
    assert(paths.length == 2 && paths.contains(s"$root/data/v1") &&
      paths.exists(_.contains("v2_admitted")), paths.toSeq.toString)
    val resolved = paths.map(spark.read.parquet(_)).reduce(_ unionByName _)
    assert(resolved.count() ==
      docs.filter(col("doc_id") % 5 =!= 4).count() +
        report("admitted_new"))
  }

  test("pipe15: admission composes from the publish-time index and " +
    "stats — it runs IDENTICALLY with the published data files removed") {
    import org.apache.spark.sql.functions._
    def run(wipe: Boolean): Seq[(String, Long, Boolean)] = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_p15s").toString
      Pipeline.pipe15PublishV1(spark, sf, root)
      if (wipe) { // the published BYTES vanish; index/stats/manifest stay
        val dir = new java.io.File(s"$root/data/v1")
        dir.listFiles().foreach(f => assert(f.delete()))
        assert(dir.listFiles().isEmpty)
      }
      Pipeline.pipe15Admit(spark, sf, root).collect()
        .map(r => (r.getAs[String]("gate"),
          r.getAs[Long]("value_x1e6"), r.getAs[Boolean]("pass")))
        .toSeq.sortBy(_._1)
    }
    val normal = run(wipe = false)
    val wiped = run(wipe = true)
    // byte-identical report: every gate value, the admission
    // accounting, and the publish decision come from (index, stats,
    // shard) alone — the proof that a 100 TB published corpus is
    // neither rewritten NOR rescanned per arriving shard
    assert(wiped == normal, s"normal=$normal wiped=$wiped")
    assert(normal.exists { case (g, v, p) =>
      g == "published_version" && v == 2L && p })
  }

  test("pipe15: publishing v1 twice on one root fails fast instead of " +
    "silently doubling the append-only index and stats") {
    val root = java.nio.file.Files.createTempDirectory("graft_p15d")
      .toString
    Pipeline.pipe15PublishV1(spark, sf, root)
    // snapshot the published v1 files: the guard must fire BEFORE the
    // landing write, or the rejected double publish still tears the
    // live-referenced data dir (review-caught ordering regression)
    val before = new java.io.File(s"$root/data/v1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    val e = intercept[IllegalArgumentException] {
      Pipeline.pipe15PublishV1(spark, sf, root)
    }
    assert(e.getMessage.contains("already holds a manifest"))
    val after = new java.io.File(s"$root/data/v1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    assert(after == before,
      "a rejected double publish must not touch the published files")
  }

  test("pipe15: atVersion pinning is real — a pinned-to-v1 replay on a " +
    "root whose loop has closed to v2 composes against v1's at-rest " +
    "state, not the newer deltas") {
    import org.apache.spark.sql.functions._
    def gateMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("gate") ->
        ((r.getAs[Long]("value_x1e6"), r.getAs[Boolean]("pass")))).toMap
    val root = java.nio.file.Files.createTempDirectory("graft_p15v")
      .toString
    Pipeline.pipe15PublishV1(spark, sf, root)
    val shard = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 5 === 4)
    // increment 1, loop-closing: appends v2 deltas to index/stats
    val r1 = gateMap(Pipeline.admitShard(spark, shard, root,
      closeLoop = true))
    assert(r1("published_version") == ((2L, true)))
    // replay increment 1 pinned to v1 AFTER the close: the version
    // filter must hide v2's deltas, so every audit row matches the
    // original admission (an unpinned compose would double-count the
    // shard — its fingerprints are now IN the index and its rows in
    // the stats). published_version differs by design (the manifest
    // is at 2 and the replay publishes nothing).
    val r2 = gateMap(Pipeline.admitShard(spark, shard, root,
      closeLoop = false, atVersion = Some(1L)))
    for ((g, v) <- r1 if g != "published_version")
      assert(r2(g) == v, s"$g: replay=${r2(g)} original=$v")
    assert(r2("published_version")._1 == 2L)
    // and the replay left no scratch behind (eager cleanup) — replay
    // dirs are nonce-suffixed, so sweep the stage dir by marker
    assert(!dirNames(s"$root/stage").exists(_.contains("replay")))
    // pinning PAST the tip must fail fast: the version filters would
    // pass everything but the prior-path re-stamp would be empty —
    // a publish that silently drops the whole corpus
    val e = intercept[IllegalArgumentException] {
      Pipeline.admitShard(spark, shard, root, closeLoop = false,
        atVersion = Some(99L)).collect()
    }
    assert(e.getMessage.contains("not published"))
  }

  test("pipe16: compaction rewrites the live file set into fewer " +
    "files with identical logical content, prior versions' files are " +
    "untouched, and a replay never touches the published rewrite") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_p16")
      .toString
    Pipeline.pipe15PublishV1(spark, sf, root)
    Pipeline.admitShard(spark,
      Tables.load(spark, sf, "documents").filter(col("doc_id") % 5 === 4),
      root, closeLoop = true).collect()
    def files(dir: String): Map[String, (Long, Long)] = {
      val fs = new java.io.File(dir).listFiles()
      if (fs == null) Map.empty
      else fs.filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    }
    val v2Dirs = Seq(s"$root/data/v1", pathLike(root, 2L, "v2_admitted"))
    val beforeByDir = v2Dirs.map(p => p -> files(p)).toMap
    val nFilesV2 = beforeByDir.values.map(_.size).sum
    assert(nFilesV2 >= 2, s"setup must fragment ($nFilesV2 files)")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("n_docs"),
        r.getAs[String]("row_checksum"))).sortBy(_._1).toSeq
    val r1 = rows(Pipeline.compactVersion(spark, root, 2L))
    // lossless: both versions report the same count and checksum
    assert(r1.map(_._1) == Seq(2L, 3L))
    assert(r1(0)._2 == r1(1)._2 && r1(0)._3 == r1(1)._3, s"r1=$r1")
    // prior versions' files byte-identical (time travel intact)
    for (p <- v2Dirs) assert(files(p) == beforeByDir(p),
      s"compaction touched $p")
    // v3 resolves to ONLY the compacted dir, and it is fewer files
    val m = Pipeline.readLog(spark, root)
    val compactDir = pathLike(root, 3L, "v3_compact")
    assert(m.rows.filter(_._1 == 3L).map(_._2).toSet == Set(compactDir))
    val nFilesV3 = files(compactDir).size
    assert(nFilesV3 > 0 && nFilesV3 < nFilesV2,
      s"v3=$nFilesV3 files vs v2=$nFilesV2")
    // replay: published compacted files untouched, the replay's own
    // (nonce-suffixed) rewrite dir cleaned, manifest not re-appended,
    // report identical
    val v3Before = files(compactDir)
    val dataBefore = dirNames(s"$root/data").toSet
    val r2 = rows(Pipeline.compactVersion(spark, root, 2L))
    assert(r2 == r1)
    assert(files(compactDir) == v3Before,
      "replay must not rewrite published compacted files")
    assert(dirNames(s"$root/data").toSet == dataBefore,
      "replay must leave no scratch rewrite dir behind")
    assert(Pipeline.readLog(spark, root) == m)
    // compacting a NON-TIP version is a fork, not a replay: v2 is
    // published (by admitShard, at the stage dir — not by this
    // compactor), so rewriting v1 into a second "v2" must fail fast
    // instead of summarizing a compacted dir that was never written
    val e = intercept[IllegalArgumentException] {
      Pipeline.compactVersion(spark, root, 1L).collect()
    }
    assert(e.getMessage.contains("already published"))
  }

  test("pipe15: the loop CLOSES — a second shard admits against the " +
    "v2 increment, still without reading any published bytes, and " +
    "its composed audit equals a full-scan recount") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val root = java.nio.file.Files.createTempDirectory("graft_p15l")
      .toString
    Pipeline.pipe15PublishV1(spark, sf, root) // v1 = doc_id % 5 != 4
    val docs = Tables.load(spark, sf, "documents")
    val shardA = docs.filter(col("doc_id") % 5 === 4 &&
      col("doc_id") % 2 === 0)
    val shardB = docs.filter(col("doc_id") % 5 === 4 &&
      col("doc_id") % 2 === 1)
    val r1 = Pipeline.admitShard(spark, shardA, root, closeLoop = true)
      .collect().map(r => r.getAs[String]("gate") ->
        ((r.getAs[Long]("value_x1e6"), r.getAs[Boolean]("pass")))).toMap
    assert(r1("published_version") == ((2L, true)), s"r1=$r1")
    // increment 2 must need NO published bytes: wipe v1's data files
    // AND v2's admitted files — only index/stats/manifest remain
    for (dir <- Seq(s"$root/data/v1", pathLike(root, 2L, "v2_admitted"))) {
      new java.io.File(dir).listFiles().foreach(f => assert(f.delete()))
    }
    val r2 = Pipeline.admitShard(spark, shardB, root, closeLoop = true)
      .collect().map(r => r.getAs[String]("gate") ->
        ((r.getAs[Long]("value_x1e6"), r.getAs[Boolean]("pass")))).toMap
    assert(r2("published_version") == ((3L, true)), s"r2=$r2")
    // independent full-scan recount of increment 2 (from the raw
    // corpus, not the at-rest artifacts): published-after-v2 = base ∪
    // admitted-A; expected audit = wapAudit's own full-scan arithmetic
    val fpc = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
    val hasTxt = col("text").isNotNull && length(col("text")) > 0
    // the recount must mirror the production null bypass (null/empty
    // payloads carry no fingerprint, are never dups, all flow to
    // staging) — without it, >=2 null-text docs in a shard would
    // make this REFERENCE disagree with correct product behavior
    def keptOf(shard: org.apache.spark.sql.DataFrame,
        published: org.apache.spark.sql.DataFrame) = {
      val pubF = published.filter(hasTxt).select(fpc.as("f")).distinct()
      shard.filter(hasTxt)
        .withColumn("f", fpc).join(pubF, Seq("f"), "left_anti")
        .withColumn("rn", row_number().over(
          Window.partitionBy("f").orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn", "f")
        .unionByName(shard.filter(!hasTxt))
    }
    val base = docs.filter(col("doc_id") % 5 =!= 4)
    val pub2 = base.unionByName(keptOf(shardA, base))
    val keptB = keptOf(shardB, pub2)
    val expect = Pipeline.wapAudit(pub2, pub2.unionByName(keptB))
      .collect().map(r => r.getAs[String]("gate") ->
        ((r.getAs[Long]("value_x1e6"), r.getAs[Boolean]("pass")))).toMap
    for ((g, ev) <- expect)
      assert(r2(g) == ev, s"$g: composed=${r2(g)} full-scan=$ev")
    assert(r2("admitted_new")._1 == keptB.count())
    // the v3 manifest resolves to all three file sets
    val paths = Pipeline.readLog(spark, root).rows.filter(_._1 == 3L)
      .map(_._2).toSet
    assert(paths.size == 3 && paths.contains(s"$root/data/v1") &&
      paths.exists(_.contains("v2_admitted")) &&
      paths.exists(_.contains("v3_admitted")), paths.toString)
  }

  test("pipe18: rollback re-stamps the target's paths manifest-only — " +
    "time travel intact, replay idempotent, forks fail fast") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_p18")
      .toString
    Pipeline.pipe15PublishV1(spark, sf, root)
    val docs = Tables.load(spark, sf, "documents")
    Pipeline.admitShard(spark, docs.filter(col("doc_id") % 5 === 4),
      root, closeLoop = true)
    Pipeline.ensureCompacted(spark, root, 2L)
    def files(dir: String): Map[String, (Long, Long)] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    val v1Before = files(s"$root/data/v1")
    val compactDir = pathLike(root, 3L, "v3_compact")
    val compactBefore = files(compactDir)
    assert(v1Before.nonEmpty && compactBefore.nonEmpty)
    val report = Pipeline.rollbackTo(spark, root, targetV = 1L, toV = 4L)
      .collect().map(r => (r.getAs[Long]("version"),
        r.getAs[Long]("n_docs"), r.getAs[String]("row_checksum"),
        r.getAs[Boolean]("files_shared")))
    // the rollback's content row IS the target's: same count, same
    // order-insensitive checksum, paths shared
    assert(report.length == 2)
    assert(report(0)._1 == 1L && report(1)._1 == 4L)
    assert(report(0)._2 == report(1)._2)
    assert(report(0)._3 == report(1)._3)
    assert(report.forall(_._4), "rollback must reference, not copy")
    // manifest-only: no published data file was touched or rewritten
    assert(files(s"$root/data/v1") == v1Before)
    assert(files(compactDir) == compactBefore)
    assert(Pipeline.readLog(spark, root).rows.filter(_._1 == 4L)
      .map(_._2).toSet == Set(s"$root/data/v1"))
    // time travel intact: every prior version still resolves
    def countOf(v: Long): Long =
      Pipeline.readLog(spark, root).paths(v)
        .map(spark.read.parquet(_)).reduce(_ unionByName _).count()
    val n1 = countOf(1L)
    assert(countOf(2L) > n1, "v2 must keep the admitted docs")
    assert(countOf(3L) == countOf(2L))
    assert(countOf(4L) == n1)
    // replay idempotent: same report, manifest does not grow
    val logBefore = Pipeline.readLog(spark, root)
    val replay = Pipeline.rollbackTo(spark, root, targetV = 1L, toV = 4L)
      .collect().map(r => (r.getAs[Long]("version"),
        r.getAs[Long]("n_docs"), r.getAs[String]("row_checksum"),
        r.getAs[Boolean]("files_shared")))
    assert(replay.toSeq == report.toSeq)
    assert(Pipeline.readLog(spark, root) == logBefore)
    // fork protection: v5 published by another writer with different
    // paths — re-stamping it as a rollback must refuse
    Pipeline.publish(spark, root, logBefore,
      Pipeline.Publish(5L, Seq(compactDir), None), "another writer")
    intercept[IllegalArgumentException] {
      Pipeline.rollbackTo(spark, root, targetV = 1L, toV = 5L)
    }
  }

  test("WAP free-running fuzz: three admissions and a compaction race " +
    "with NO choreography, losers retry — every writer lands, versions " +
    "are contiguous and all resolve, and the corpus equals the serial " +
    "run's fingerprint set", SlowTests) {
    import org.apache.spark.sql.functions._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val docs = Tables.load(spark, sf, "documents")
    val hasText = col("text").isNotNull && length(col("text")) > 0
    val fp = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
    val root = java.nio.file.Files.createTempDirectory("graft_fuzz")
      .toString
    Pipeline.pipe15PublishV1(spark, sf, root) // v1 = 4/5 slice
    // three disjoint text-only shards (null docs are admit-always —
    // a retry after a conflict would re-admit them and the serial
    // comparison would depend on the schedule)
    def shard(i: Int) = docs.filter(col("doc_id") % 5 === 4 &&
      pmod(col("doc_id"), lit(3)) === i && hasText)
    def retrying[T](label: String)(op: => T): T = {
      var out: Option[T] = None
      var attempts = 0
      while (out.isEmpty) {
        attempts += 1
        assert(attempts <= 10, s"$label: exceeded 10 retry attempts")
        try out = Some(op)
        catch { case e: IllegalArgumentException
            if String.valueOf(e.getMessage).contains("commit conflict") ||
              String.valueOf(e.getMessage).contains("already published") =>
          () // raced and lost — re-stage against the new tip
        }
      }
      out.get
    }
    val writers =
      (0 to 2).map { i =>
        Future(retrying(s"admit$i") {
          val r = Pipeline.admitShard(spark, shard(i), root,
            closeLoop = true).collect()
          assert(r.find(_.getString(0) == "published_version")
            .get.getAs[Boolean]("pass"), s"admit$i held by gates")
        })
      } :+ Future(retrying("compact") {
        val tip = Pipeline.readLog(spark, root).tip
        Pipeline.compactVersion(spark, root, tip).collect(); ()
      }) :+ Future(retrying("vacuum") {
        // the GC races too: keepLast = 3 against whatever history
        // exists when it runs — it must never break a live writer
        // (deletes only expired-only dirs, decided by its one
        // committed expire entry) and never crash
        Pipeline.expireVersions(spark, root, keepLast = 3).collect()
        ()
      })
    writers.foreach(Await.result(_, 600.seconds))
    val log = Pipeline.readLog(spark, root)
    val versions = log.versions.distinct.sorted
    // 1 publish + 3 admissions + 1 compaction, no forks, no gaps
    // (the vacuum's expire entry takes no manifest version)
    assert(versions == (1L to 5L), versions.toString)
    def resolved(v: Long) =
      log.paths(v).map(spark.read.parquet(_)).reduce(_ unionByName _)
    // every NON-tombstoned version still resolves (the racing vacuum
    // may legitimately have expired early history)
    val tombstoned = log.expired
    assert(tombstoned.forall(_ < versions.max),
      s"the tip can never be tombstoned: $tombstoned")
    for (v <- versions if !tombstoned(v))
      assert(resolved(v).count() >= 0) // all readable
    // final fingerprint set == the serial run's (order-free statement:
    // base fps ∪ all shard fps — dedup keeps one row per fp)
    val finalFps = resolved(5L).filter(hasText)
      .select(fp.as("f")).distinct()
    val wantFps = docs.filter(col("doc_id") % 5 =!= 4).filter(hasText)
      .unionByName((0 to 2).map(shard).reduce(_ unionByName _))
      .select(fp.as("f")).distinct()
    assert(finalFps.exceptAll(wantFps).isEmpty &&
      wantFps.exceptAll(finalFps).isEmpty,
      "fuzzed corpus diverged from the serial fingerprint set")
    // and no rows were duplicated: one row per surviving fingerprint
    // plus the null-text base docs
    val nNullBase = docs.filter(col("doc_id") % 5 =!= 4)
      .filter(!hasText).count()
    assert(resolved(5L).count() == wantFps.count() + nNullBase)
  }

  test("WAP log: N writers commit the same next version — exactly one " +
    "wins, every other gets a commit conflict, and no temp residue is " +
    "left (local link branch and non-file rename branch)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val n = 8
    // one thread per writer: the writers meet at a barrier, which
    // would starve a pool smaller than n
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockSchemeFs].getName)
    try for (scheme <- Seq("", "mockfs:")) {
      val local = java.nio.file.Files.createTempDirectory("graft_logN")
        .toString
      val root = scheme + local
      val v1 = Pipeline.publish(spark, root, Pipeline.WapLog(Nil),
        Pipeline.Publish(1L, Seq(s"$root/data/v1"), None), "seed")
      val start = new java.util.concurrent.CyclicBarrier(n)
      val outcomes = (0 until n).map { i =>
        Future {
          start.await(60, java.util.concurrent.TimeUnit.SECONDS)
          try {
            Pipeline.publish(spark, root, v1,
              Pipeline.Publish(2L, Seq(s"$root/stage/w$i"), None), s"w$i")
            Right(i)
          } catch { case e: IllegalArgumentException => Left(e.getMessage) }
        }
      }.map(Await.result(_, 120.seconds))
      val winners = outcomes.collect { case Right(i) => i }
      assert(winners.size == 1, s"[$scheme] winners: $winners")
      outcomes.collect { case Left(m) => m }.foreach(m =>
        assert(m.contains("commit conflict"), s"[$scheme] $m"))
      val log = Pipeline.readLog(spark, root)
      assert(log.versions == Seq(1L, 2L), s"[$scheme] ${log.versions}")
      assert(log.paths(2L) == Seq(s"$root/stage/w${winners.head}"))
      // exactly the two entries, and nothing else in the log dir
      assert(dirNames(s"$local/manifest").sorted == Seq(
        "00000000000000000001", "00000000000000000002"),
        s"[$scheme] log dir: ${dirNames(s"$local/manifest")}")
    } finally pool.shutdown()
  }

  test("WAP log: a crashed writer's leftover temp entry neither blocks " +
    "the next commit nor appears in the manifest view, and the orphan " +
    "sweep removes it past grace") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_logtmp")
      .toString
    Pipeline.pipe15PublishV1(spark, sf, root)
    // what a writer that died between its temp write and its publish
    // leaves: the FULL entry for the next sequence number, under the
    // dot-named temp name
    val tmp = new java.io.File(
      s"$root/manifest/.00000000000000000002.deadbeef0000.tmp")
    java.nio.file.Files.write(tmp.toPath,
      s"publish\t2\npath\t$root/stage/ghost\n".getBytes("UTF-8"))
    val before = Pipeline.readLog(spark, root)
    assert(before.versions == Seq(1L))
    assert(!before.rows.exists(_._2.contains("ghost")))
    val r = Pipeline.admitShard(spark,
      Tables.load(spark, sf, "documents").filter(col("doc_id") % 5 === 4),
      root, closeLoop = true).collect()
      .map(x => x.getString(0) -> x.getAs[Boolean]("pass")).toMap
    assert(r("published_version"))
    val after = Pipeline.readLog(spark, root)
    assert(after.versions == Seq(1L, 2L))
    assert(after.paths(2L).exists(_.contains("v2_admitted")) &&
      !after.rows.exists(_._2.contains("ghost")), after.rows.toString)
    def sweep(graceMs: Long) = Pipeline.removeOrphans(spark, root, graceMs)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // inside grace the temp file could be a live committer's: it stays
    sweep(3600L * 1000)
    assert(tmp.exists())
    sweep(0L)
    assert(!tmp.exists(), "a stale temp entry must be swept")
    assert(Pipeline.readLog(spark, root) == after)
  }

  test("pipe15: two concurrent first publishes on one root — one wins, " +
    "the loser fails with a commit conflict and leaves no delta, and " +
    "the composed v1 stats equal a serial publish's") {
    import org.apache.spark.sql.functions._
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val landing = java.nio.file.Files.createTempDirectory("graft_p15r_in")
      .toString
    Tables.load(spark, sf, "documents").filter(col("doc_id") % 5 =!= 4)
      .write.parquet(s"$landing/base")
    val root = java.nio.file.Files.createTempDirectory("graft_p15r")
      .toString
    // both writers pass the no-manifest fast-fail and write their
    // deltas before either commits: only the log entry decides
    val ready = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = (0 until 2).map { _ =>
      Future(blocking {
        try {
          Pipeline.publishV1Meta(spark, s"$landing/base", root,
            beforeCommit = () => {
              ready.await(120, java.util.concurrent.TimeUnit.SECONDS); ()
            })
          None
        } catch { case e: IllegalArgumentException => Some(e.getMessage) }
      })
    }.map(Await.result(_, 300.seconds))
    assert(outcomes.count(_.isEmpty) == 1, outcomes.toString)
    assert(outcomes.flatten.forall(_.contains("commit conflict")),
      outcomes.toString)
    val log = Pipeline.readLog(spark, root)
    assert(log.versions == Seq(1L) && log.deltas(1L).size == 1)
    assert(dirNames(s"$root/delta") == Seq(log.deltas(1L).head.split('/').last),
      "the loser must delete its own delta dir")
    val serial = java.nio.file.Files.createTempDirectory("graft_p15r_s")
      .toString
    Pipeline.publishV1Meta(spark, s"$landing/base", serial)
    def atRest(r: String) = {
      val l = Pipeline.readLog(spark, r)
      Seq("fp", "totals", "lang").map(rel => rel ->
        Pipeline.atRest(spark, l, 1L, rel).collect().map(_.toString)
          .sorted.toSeq).toMap
    }
    assert(atRest(root) == atRest(serial))
  }

  test("WAP over a NON-file scheme: publish, conflict, admit, compact, " +
    "expire and orphan sweep all run over a mockfs:// root — the " +
    "hdfs:// wire without a cluster") {
    import org.apache.spark.sql.functions._
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockSchemeFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_mockfs")
      .toString
    val root = s"mockfs:$local"
    // full publish over the scheme-qualified root: data parquet,
    // at-rest deltas, and the LOG all dispatch through MockSchemeFs
    Pipeline.pipe15PublishV1(spark, sf, root)
    assert(Pipeline.readLog(spark, root).rows.size == 1)
    assert(dirNames(s"$local/manifest") == Seq("00000000000000000001"),
      "the rename branch must leave only the published entry")
    // double-publish → the no-manifest validation conflicts
    val e = intercept[IllegalArgumentException] {
      Pipeline.pipe15PublishV1(spark, sf, root)
    }
    assert(e.getMessage.contains("already holds a manifest") ||
      e.getMessage.contains("commit conflict"), e.getMessage)
    // an admission commits over the same wire (the log is read
    // through the scheme too)
    val r = Pipeline.admitShard(spark,
      Tables.load(spark, sf, "documents").filter(col("doc_id") % 5 === 4),
      root, closeLoop = true).collect()
      .map(x => x.getString(0) -> x.getAs[Boolean]("pass")).toMap
    assert(r("published_version"))
    Pipeline.compactVersion(spark, root, 2L).collect()
    assert(Pipeline.readLog(spark, root).tip == 3L)
    // the lifecycle GC must DELETE through the scheme too: deleteTree
    // on a scheme-qualified path dispatches to the Hadoop FS (a nio
    // walk throws and the old catch-all made it a silent no-op —
    // expiry reporting dirs dropped that still existed)
    val stageName = Pipeline.readLog(spark, root).paths(2L)
      .filter(_.contains("v2_admitted")).head.split('/').last
    val stageLocal = new java.io.File(s"$local/stage/$stageName")
    assert(stageLocal.exists())
    // keepLast = 1 keeps only the compacted tip, which references
    // ONLY its own rewrite dir — so BOTH the v1 landing dir and the
    // staging dir are legitimately unreferenced and drop (no
    // rollback pins data/v1 live on this root, unlike pipe20's)
    val exp = Pipeline.expireVersions(spark, root, keepLast = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(exp(1L)._2 == 1L && exp(2L)._2 == 2L, exp.toString)
    assert(!stageLocal.exists() &&
      !new java.io.File(s"$local/data/v1").exists(),
      "the scheme-qualified expiry deletes must reach the disk")
    // and the live tip still resolves through the scheme
    assert(Pipeline.readLog(spark, root).paths(3L)
      .map(spark.read.parquet(_)).reduce(_ unionByName _).count() > 0)
    // orphan sweep over the same wire
    spark.range(5).toDF("doc_id")
      .write.parquet(s"$root/stage/v9_admitted_feedface0000")
    val sw = Pipeline.removeOrphans(spark, root, graceMs = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sw("orphan_dirs_dropped") == 1L, sw.toString)
    assert(!new java.io.File(s"$local/stage/v9_admitted_feedface0000")
      .exists())
  }

  test("pipe20: snapshot expiration drops ONLY dirs unreferenced by " +
    "live versions — shared dirs survive, live versions resolve " +
    "after the vacuum, tombstones land, replays are idempotent, and " +
    "keepLast is guarded") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_p20")
      .toString
    Pipeline.pipe15PublishV1(spark, sf, root)
    val docs = Tables.load(spark, sf, "documents")
    Pipeline.admitShard(spark, docs.filter(col("doc_id") % 5 === 4),
      root, closeLoop = true)
    Pipeline.ensureCompacted(spark, root, 2L)
    Pipeline.rollbackTo(spark, root, targetV = 1L, toV = 4L)
    val stageDir = pathLike(root, 2L, "v2_admitted")
    val compactDir = pathLike(root, 3L, "v3_compact")
    // retention wider than history: everything live, nothing dropped
    val r0 = Pipeline.expireVersions(spark, root, keepLast = 9)
      .collect()
    assert(r0.length == 4 && r0.forall(_.getAs[Boolean]("is_live")))
    assert(r0.forall(_.getAs[Long]("n_dirs_dropped") == 0L))
    assert(new java.io.File(stageDir).exists())
    // narrowing retention 9 → 2 is a DELIBERATE policy change: the
    // first vacuum pinned keepLast=9 in its expire entry,
    // so without the explicit override the narrower vacuum must fail
    // loud instead of silently racing a recorded wider policy
    val conflict = intercept[IllegalArgumentException] {
      Pipeline.expireVersions(spark, root, keepLast = 2)
    }
    assert(conflict.getMessage.contains("conflicting retention"),
      conflict.getMessage)
    assert(new java.io.File(stageDir).exists(),
      "a refused vacuum must not have deleted anything")
    // the real vacuum: keep {3, 4}; v2's staging dir is the only dir
    // no live version references — data/v1 is shared with v4 (the
    // rollback re-stamp) and MUST survive
    def run() = Pipeline.expireVersions(spark, root, keepLast = 2,
        updatePolicy = true)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        r.getLong(2), r.getLong(3))).toSeq.sortBy(_._1)
    val r1 = run()
    val fp = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
    val hasText = col("text").isNotNull && length(col("text")) > 0
    val base = docs.filter(col("doc_id") % 5 =!= 4)
    val sh = docs.filter(col("doc_id") % 5 === 4)
    val newFp = sh.filter(hasText).select(fp.as("fp")).distinct()
      .join(base.filter(hasText).select(fp.as("fp")).distinct(),
        Seq("fp"), "left_anti").count()
    val shNulls = sh.filter(!hasText).count()
    assert(r1 == Seq(
      (1L, false, 0L, -1L),
      (2L, false, 1L, -1L),
      (3L, true, 0L, base.count() + newFp + shNulls),
      (4L, true, 0L, base.count())), r1.toString)
    assert(!new java.io.File(stageDir).exists(),
      "the expired-only staging dir must be deleted")
    assert(new java.io.File(s"$root/data/v1").exists(),
      "a dir shared with a live version must survive the vacuum")
    assert(new java.io.File(compactDir).exists())
    assert(Pipeline.readLog(spark, root).expired == Set(1L, 2L))
    // replay: same report, still nothing else deleted
    assert(run() == r1, "expiry replay must be idempotent")
    assert(new java.io.File(s"$root/data/v1").exists())
    // the tip can never expire
    intercept[IllegalArgumentException] {
      Pipeline.expireVersions(spark, root, keepLast = 0)
    }
    // expiry is MONOTONE: a later vacuum with a WIDER retention must
    // not resurrect tombstoned versions — their unreferenced dirs are
    // already deleted, and an un-tombstoned v2 would let the rollback
    // guard re-stamp a snapshot that no longer resolves
    val r3 = Pipeline.expireVersions(spark, root, keepLast = 9,
        updatePolicy = true)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(r3 == Map(1L -> false, 2L -> false, 3L -> true, 4L -> true),
      s"widened retention resurrected an expired version: $r3")
    assert(Pipeline.readLog(spark, root).expired == Set(1L, 2L))
    // an expired version can never come back as the tip: re-stamping
    // v2's paths would publish a version pointing at the vacuumed
    // staging dir
    val e = intercept[IllegalArgumentException] {
      Pipeline.rollbackTo(spark, root, targetV = 2L, toV = 5L)
    }
    assert(e.getMessage.contains("expired"), e.getMessage)
    // while a LIVE version still rolls back normally (v3's dirs are
    // intact), proving the guard keys on the tombstones, not on a
    // blanket freeze
    val ok = Pipeline.rollbackTo(spark, root, targetV = 3L, toV = 5L)
      .collect()
    assert(ok.forall(_.getAs[Boolean]("files_shared")))
  }

  test("pipe21: the orphan sweep deletes ONLY unreferenced dirs past " +
    "the grace period — a fresh (possibly mid-stage) dir survives, " +
    "referenced dirs are byte-identical, meta relations untouched") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_p21")
      .toString
    Pipeline.pipe15PublishV1(spark, sf, root)
    val docs = Tables.load(spark, sf, "documents")
    Pipeline.admitShard(spark, docs.filter(col("doc_id") % 5 === 4),
      root, closeLoop = true)
    Pipeline.ensureCompacted(spark, root, 2L)
    val orphan = s"$root/stage/v9_admitted_deadbeef0000"
    docs.limit(7).write.parquet(orphan)
    def files(dir: String): Map[String, (Long, Long)] =
      Option(new java.io.File(dir).listFiles())
        .map(_.filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> ((f.length(), f.lastModified())))
          .toMap).getOrElse(Map.empty)
    val refDirs = Seq(s"$root/data/v1",
      pathLike(root, 2L, "v2_admitted"), pathLike(root, 3L, "v3_compact"))
    val logBefore = Pipeline.readLog(spark, root)
    // the at-rest deltas v1 and v2 published, one dir per relation
    val deltaDirs = logBefore.deltas(logBefore.tip)
      .flatMap(d => Seq("fp", "totals", "lang").map(rel => s"$d/$rel"))
    assert(deltaDirs.size == 6, deltaDirs.toString)
    val before = (refDirs ++ deltaDirs).map(d => d -> files(d)).toMap
    def report(graceMs: Long): Map[String, Long] =
      Pipeline.removeOrphans(spark, root, graceMs).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // grace period not yet elapsed: the just-written dir could be a
    // live writer parked mid-stage — it must survive
    val r1 = report(graceMs = 3600L * 1000)
    assert(r1("orphan_dirs_dropped") == 0L, r1.toString)
    assert(new java.io.File(orphan).exists())
    // grace 0: the crashed-writer dir goes, nothing else moves
    val r2 = report(graceMs = 0L)
    assert(r2("orphan_dirs_dropped") == 1L, r2.toString)
    assert(r2("referenced_dirs") == 3L, r2.toString)
    assert(!new java.io.File(orphan).exists(),
      "the unreferenced dir past grace must be deleted")
    for (d <- refDirs ++ deltaDirs) assert(files(d) == before(d),
      s"sweep touched referenced dir $d")
    // the log is untouched, and every referenced delta survives
    assert(Pipeline.readLog(spark, root) == logBefore)
    for (d <- deltaDirs) assert(new java.io.File(d).exists(), d)
    // the tip still resolves to the admitted corpus
    val fp = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
    val hasText = col("text").isNotNull && length(col("text")) > 0
    val base = docs.filter(col("doc_id") % 5 =!= 4)
    val sh = docs.filter(col("doc_id") % 5 === 4)
    val newFp = sh.filter(hasText).select(fp.as("fp")).distinct()
      .join(base.filter(hasText).select(fp.as("fp")).distinct(),
        Seq("fp"), "left_anti").count()
    val shNulls = sh.filter(!hasText).count()
    assert(r2("tip_docs") == base.count() + newFp + shNulls)
    // idempotent: a re-sweep finds nothing
    assert(report(graceMs = 0L)("orphan_dirs_dropped") == 0L)
    // a crashed writer's at-rest delta dir is an orphan like its
    // staged shard: swept past grace, referenced deltas untouched
    val deltaOrphan = s"$root/delta/v3_deadbeef0000"
    docs.limit(3).select("lang").write.parquet(s"$deltaOrphan/lang")
    assert(report(graceMs = 0L)("orphan_dirs_dropped") == 1L)
    assert(!new java.io.File(deltaOrphan).exists())
    for (d <- deltaDirs) assert(files(d) == before(d), d)
  }

  test("pipe21 checkpoint GC: a dead streaming run's ckpt/<runId> dir " +
    "is swept past grace; a run with RECENT child activity survives " +
    "even when the run dir's own mtime is old") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_p21ck")
      .toString
    Pipeline.pipe15PublishV1(spark, sf, root)
    val docs = Tables.load(spark, sf, "documents")
    Pipeline.admitShard(spark, docs.filter(col("doc_id") % 5 === 4),
      root, closeLoop = true)
    val old = System.currentTimeMillis() - 2L * 3600 * 1000
    def plant(runId: String, childMtime: Long): java.io.File = {
      val run = new java.io.File(s"$root/ckpt/$runId")
      val offsets = new java.io.File(run, "offsets")
      assert(offsets.mkdirs())
      val f = new java.io.File(offsets, "0")
      assert(f.createNewFile())
      assert(f.setLastModified(childMtime))
      // BOTH directory mtimes are always old: object stores report
      // synthetic dir entries whose mtimes never advance when files
      // land inside them, so liveness must come from the newest FILE
      // two levels down (the offset/commit files a live stream lands
      // every micro-batch), never from a directory mtime
      assert(offsets.setLastModified(old))
      assert(run.setLastModified(old))
      run
    }
    val dead = plant("run_dead", childMtime = old)
    val live = plant("run_live",
      childMtime = System.currentTimeMillis())
    def report(graceMs: Long): Map[String, Long] =
      Pipeline.removeOrphans(spark, root, graceMs).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val r1 = report(graceMs = 3600L * 1000)
    assert(r1("ckpt_runs_dropped") == 1L, r1.toString)
    assert(r1("orphan_dirs_dropped") == 0L, r1.toString)
    assert(!dead.exists(), "the dead run's checkpoint must be swept")
    assert(live.exists(),
      "a run with recent write activity must survive the sweep")
    // idempotent, and the surviving run is still shielded
    val r2 = report(graceMs = 3600L * 1000)
    assert(r2("ckpt_runs_dropped") == 0L, r2.toString)
    assert(live.exists())
  }

  test("pipe19 fault: a crash between admission and checkpoint commit " +
    "redelivers the shard, and the at-rest index makes redelivery " +
    "content-idempotent", SlowTests) {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val in = Pipeline.pipe19Inputs(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_p19f")
      .toString
    Pipeline.publishV1Meta(spark, s"$in/base", root)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    val reports =
      scala.collection.mutable.ArrayBuffer.empty[Map[String, Long]]
    @volatile var boom = true
    def start() = ss.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, " +
        "n_chars LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/feed")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          reports += Pipeline.admitShard(b.sparkSession, b, root,
              closeLoop = true)
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          if (boom) {
            boom = false
            // the publish landed; the CHECKPOINT for this batch never
            // commits — the crash window a restart must survive
            throw new RuntimeException("injected crash after admission")
          }
          ()
      }
      .start()
    val q1 = start()
    val crashed = intercept[Throwable] { q1.awaitTermination(300000) }
    assert(String.valueOf(crashed.getMessage).contains("injected") ||
      Option(crashed.getCause).exists(c =>
        String.valueOf(c.getMessage).contains("injected")))
    q1.stop()
    val q2 = start()
    assert(q2.awaitTermination(300000)); q2.stop()
    // redelivery: the first file re-admits against an index that
    // already holds its fingerprints — everything rejected
    assert(reports.length == 3, s"expected crash+redelivery+second: " +
      s"${reports.length} admissions")
    assert(reports(0)("admitted_new") > 0L)
    assert(reports(1)("admitted_new") == 0L,
      "redelivered shard must be fully rejected by the index")
    assert(reports(1)("rejected_dup") == reports(0)("admitted_new") +
      reports(0)("rejected_dup"))
    // final content is EXACTLY the clean run's: base + new shard fps
    val log = Pipeline.readLog(spark, root)
    assert(log.tip == 4L, "v2 admission, v3 empty redelivery, v4 second shard")
    def countOf(v: Long): Long =
      log.paths(v).map(spark.read.parquet(_)).reduce(_ unionByName _).count()
    val docs = Tables.load(spark, sf, "documents")
    val fp = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
    val hasText = col("text").isNotNull && length(col("text")) > 0
    val base = docs.filter(col("doc_id") % 5 <= 2)
    val sh = docs.filter(col("doc_id") % 5 >= 3)
    val newFp = sh.filter(hasText).select(fp.as("fp")).distinct()
      .join(base.filter(hasText).select(fp.as("fp")).distinct(),
        Seq("fp"), "left_anti").count()
    val shNulls = sh.filter(!hasText).count()
    assert(countOf(4L) == base.count() + newFp + shNulls,
      "crash + redelivery must not change the final corpus")
    assert(countOf(3L) == countOf(2L),
      "the redelivered publish must be an empty delta")
  }

  test("WAP commit conflict: compaction RACED against admission on " +
    "one root — exactly one manifest append wins, the loser errors " +
    "with its staged files unreferenced, and a retry succeeds " +
    "against the new tip", SlowTests) {
    import org.apache.spark.sql.functions._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val docs = Tables.load(spark, sf, "documents")
    val shardB = docs.filter(col("doc_id") % 5 === 4 &&
      col("doc_id") % 2 === 1)
    def freshRoot(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_race")
        .toString
      Pipeline.pipe15PublishV1(spark, sf, root)
      Pipeline.admitShard(spark,
        docs.filter(col("doc_id") % 5 === 4 && col("doc_id") % 2 === 0),
        root, closeLoop = true).collect()
      root // tip = 2
    }
    def tipOf(root: String): Long = Pipeline.readLog(spark, root).tip
    def resolve(root: String, v: Long): Seq[String] =
      Pipeline.readLog(spark, root).paths(v)
    def countOf(root: String, v: Long): Long =
      resolve(root, v).map(spark.read.parquet(_))
        .reduce(_ unionByName _).count()

    // ORDERING 1: the admission stages first, parks before its
    // commit; the compaction publishes v3 meanwhile → the admission
    // must lose with a commit-conflict, corpus = compaction-only
    locally {
      val root = freshRoot()
      val staged = new CountDownLatch(1)
      val go = new CountDownLatch(1)
      val loser = Future {
        Pipeline.admitShard(spark, shardB, root, closeLoop = true,
          beforeCommit = () => {
            staged.countDown(); go.await(120, TimeUnit.SECONDS); ()
          }).collect()
      }
      assert(staged.await(120, TimeUnit.SECONDS))
      Pipeline.compactVersion(spark, root, 2L).collect() // wins v3
      val v3 = resolve(root, 3L)
      go.countDown()
      val e = intercept[IllegalArgumentException] {
        Await.result(loser, 300.seconds)
      }
      assert(e.getMessage.contains("commit conflict"), e.getMessage)
      // winner-only state: tip is the compaction's v3, untouched by
      // the loser, and the loser's staged shard is unreferenced
      assert(tipOf(root) == 3L && resolve(root, 3L) == v3)
      assert(!Pipeline.readLog(spark, root).rows
        .exists(_._2.contains("v3_admitted")))
      // …and physically DELETED (its nonce-unique dir is provably its
      // own, so the conflict handler sweeps it — no orphan shards)
      assert(!dirNames(s"$root/stage").exists(_.contains("v3_admitted")),
        "loser's staged shard dir must be deleted on conflict")
      assert(countOf(root, 3L) == countOf(root, 2L),
        "compaction winner must preserve v2's content")
      // the loser re-stages against the new tip and succeeds: the
      // shard lands as v4 exactly as in a conflict-free run
      val retry = Pipeline.admitShard(spark, shardB, root,
        closeLoop = true).collect()
        .map(r => r.getString(0) -> r.getAs[Boolean]("pass")).toMap
      assert(retry("published_version"))
      assert(tipOf(root) == 4L)
      assert(resolve(root, 4L).exists(_.contains("v4_admitted")))
    }

    // ORDERING 2: the compaction rewrites first, parks before its
    // commit; the admission publishes v3 meanwhile → the compaction
    // must lose, corpus = admission-only, its rewrite dir deleted
    locally {
      val root = freshRoot()
      val staged = new CountDownLatch(1)
      val go = new CountDownLatch(1)
      val loser = Future {
        Pipeline.compactVersion(spark, root, 2L,
          beforeCommit = () => {
            staged.countDown(); go.await(120, TimeUnit.SECONDS); ()
          }).collect()
      }
      assert(staged.await(120, TimeUnit.SECONDS))
      val r = Pipeline.admitShard(spark, shardB, root, closeLoop = true)
        .collect()
        .map(x => x.getString(0) -> x.getAs[Boolean]("pass")).toMap
      assert(r("published_version")) // admission wins v3
      val v3 = resolve(root, 3L)
      go.countDown()
      val e = intercept[IllegalArgumentException] {
        Await.result(loser, 300.seconds)
      }
      assert(e.getMessage.contains("commit conflict"), e.getMessage)
      assert(tipOf(root) == 3L && resolve(root, 3L) == v3)
      assert(v3.exists(_.contains("v3_admitted")))
      // the losing rewrite leaves no orphan and no manifest trace
      assert(!dirNames(s"$root/data").exists(_.startsWith("v3_compact")))
      assert(!Pipeline.readLog(spark, root).rows
        .exists(_._2.contains("v3_compact")))
      // the loser re-stages against the new tip and succeeds (v4 is
      // the compaction of the admission's v3 — content preserved)
      Pipeline.compactVersion(spark, root, 3L).collect()
      assert(tipOf(root) == 4L)
      assert(countOf(root, 4L) == countOf(root, 3L))
    }

    // ORDERING 3: two ADMISSIONS race (two ingest loops pointed at
    // one root — a deployment mistake the commit point must still
    // survive): the parked one loses, its retry lands as v4 with the
    // same final corpus as a serial run
    locally {
      val root = freshRoot()
      val shardC = docs.filter(col("doc_id") % 5 === 3)
      val staged = new CountDownLatch(1)
      val go = new CountDownLatch(1)
      val loser = Future {
        Pipeline.admitShard(spark, shardB, root, closeLoop = true,
          beforeCommit = () => {
            staged.countDown(); go.await(120, TimeUnit.SECONDS); ()
          }).collect()
      }
      assert(staged.await(120, TimeUnit.SECONDS))
      val rC = Pipeline.admitShard(spark, shardC, root, closeLoop = true)
        .collect()
        .map(x => x.getString(0) -> x.getAs[Boolean]("pass")).toMap
      assert(rC("published_version")) // shard C wins v3
      go.countDown()
      val e = intercept[IllegalArgumentException] {
        Await.result(loser, 300.seconds)
      }
      assert(e.getMessage.contains("commit conflict"), e.getMessage)
      assert(tipOf(root) == 3L)
      // retry admits B against the new tip; final corpus equals the
      // serial A,C,B run (count check via the at-rest totals)
      val retry = Pipeline.admitShard(spark, shardB, root,
        closeLoop = true).collect()
        .map(x => x.getString(0) -> x.getAs[Boolean]("pass")).toMap
      assert(retry("published_version"))
      assert(tipOf(root) == 4L)
      val serial = {
        val r2 = java.nio.file.Files.createTempDirectory("graft_race_s")
          .toString
        Pipeline.pipe15PublishV1(spark, sf, r2)
        Pipeline.admitShard(spark,
          docs.filter(col("doc_id") % 5 === 4 && col("doc_id") % 2 === 0),
          r2, closeLoop = true).collect()
        Pipeline.admitShard(spark, shardC, r2, closeLoop = true).collect()
        Pipeline.admitShard(spark, shardB, r2, closeLoop = true).collect()
        countOf(r2, 4L)
      }
      assert(countOf(root, 4L) == serial,
        "raced + retried corpus must equal the serial run")
    }
  }

  test("WAP commit conflict, LATE-STAGE interleavings: a loser whose " +
    "staging/rewrite WRITE runs after the winner's commit never " +
    "touches the winner's published files (writer-unique paths), and " +
    "a raced rollback loses cleanly in both orderings", SlowTests) {
    import org.apache.spark.sql.functions._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val docs = Tables.load(spark, sf, "documents")
    val shardB = docs.filter(col("doc_id") % 5 === 4 &&
      col("doc_id") % 2 === 1)
    val shardC = docs.filter(col("doc_id") % 5 === 3)
    def freshRoot(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_race2")
        .toString
      Pipeline.pipe15PublishV1(spark, sf, root)
      Pipeline.admitShard(spark,
        docs.filter(col("doc_id") % 5 === 4 && col("doc_id") % 2 === 0),
        root, closeLoop = true).collect()
      root // tip = 2
    }
    def tipOf(root: String): Long = Pipeline.readLog(spark, root).tip
    def resolve(root: String, v: Long): Seq[String] =
      Pipeline.readLog(spark, root).paths(v)
    def countOf(root: String, v: Long): Long =
      resolve(root, v).map(spark.read.parquet(_))
        .reduce(_ unionByName _).count()
    // byte-level snapshot of a published version's every file —
    // (name, length, mtime) per dir — the "untouched" witness
    def filesOf(dirs: Seq[String]): Map[String, Map[String, (Long, Long)]] =
      dirs.map { d =>
        d -> Option(new java.io.File(d).listFiles())
          .map(_.filter(_.getName.endsWith(".parquet"))
            .map(f => f.getName -> ((f.length(), f.lastModified())))
            .toMap).getOrElse(Map.empty)
      }.toMap

    // INTERLEAVING A (the r14 finding): the losing ADMISSION parks
    // BEFORE its staging write; the winner admits + commits v3; the
    // loser then stages and fails its commit. With a shared
    // deterministic staging path the loser's Overwrite would have
    // deleted-and-rewritten the winner's PUBLISHED v3 shard with a
    // different shard's rows — writer-unique paths make the loser's
    // write provably its own.
    locally {
      val root = freshRoot()
      val parked = new CountDownLatch(1)
      val go = new CountDownLatch(1)
      val loser = Future {
        Pipeline.admitShard(spark, shardB, root, closeLoop = true,
          beforeStage = () => {
            parked.countDown(); go.await(120, TimeUnit.SECONDS); ()
          }).collect()
      }
      assert(parked.await(120, TimeUnit.SECONDS))
      val w = Pipeline.admitShard(spark, shardC, root, closeLoop = true)
        .collect()
        .map(x => x.getString(0) -> x.getAs[Boolean]("pass")).toMap
      assert(w("published_version")) // winner owns v3
      val v3 = resolve(root, 3L)
      val v3Files = filesOf(v3)
      go.countDown() // loser NOW stages, then must conflict at commit
      val e = intercept[IllegalArgumentException] {
        Await.result(loser, 300.seconds)
      }
      assert(e.getMessage.contains("commit conflict"), e.getMessage)
      // the winner's published v3 is byte-identical through the
      // loser's post-commit staging write — the silent-corruption
      // interleaving is closed
      assert(tipOf(root) == 3L && resolve(root, 3L) == v3)
      assert(filesOf(v3) == v3Files,
        "loser's staging write must not touch the winner's files")
      assert(!dirNames(s"$root/stage").exists(n =>
        n.contains("v3_admitted") && !v3.exists(_.endsWith(n))),
        "loser's staged dir must be deleted on conflict")
      // loser retries against the new tip and lands v4
      val retry = Pipeline.admitShard(spark, shardB, root,
        closeLoop = true).collect()
        .map(x => x.getString(0) -> x.getAs[Boolean]("pass")).toMap
      assert(retry("published_version") && tipOf(root) == 4L)
    }

    // INTERLEAVING B (the r14 compaction finding): two COMPACTIONS
    // race from the same fromV — both pass the tip guard. The loser
    // parks before its rewrite write; the winner rewrites + commits
    // v3; the loser rewrites into its OWN dir, conflicts, and deletes
    // only what it wrote. With a shared deterministic dir the loser
    // would have overwritten the winner's published rewrite and then
    // deleteTree'd it — the manifest's v3 pointing at nothing.
    locally {
      val root = freshRoot()
      val parked = new CountDownLatch(1)
      val go = new CountDownLatch(1)
      val loser = Future {
        Pipeline.compactVersion(spark, root, 2L,
          beforeStage = () => {
            parked.countDown(); go.await(120, TimeUnit.SECONDS); ()
          }).collect()
      }
      assert(parked.await(120, TimeUnit.SECONDS))
      Pipeline.compactVersion(spark, root, 2L).collect() // wins v3
      val v3 = resolve(root, 3L)
      assert(v3.size == 1 && v3.head.contains("v3_compact"))
      val v3Files = filesOf(v3)
      go.countDown()
      val e = intercept[IllegalArgumentException] {
        Await.result(loser, 300.seconds)
      }
      assert(e.getMessage.contains("commit conflict"), e.getMessage)
      // the manifest's v3 still RESOLVES (the loser never deleted the
      // winner's dir), content preserved, byte-identical
      assert(tipOf(root) == 3L && resolve(root, 3L) == v3)
      assert(filesOf(v3) == v3Files,
        "loser's rewrite must not touch the winner's published dir")
      assert(countOf(root, 3L) == countOf(root, 2L))
      // exactly one compacted dir remains on disk — the loser's own
      // unique dir was swept in its conflict handler
      assert(dirNames(s"$root/data").count(_.startsWith("v3_compact")) == 1)
    }

    // INTERLEAVING C: rollback RACED against admission, both
    // orderings — the third writer kind goes through the same log
    // commit and must lose cleanly too.
    locally { // C1: rollback parks, admission wins
      val root = freshRoot()
      val parked = new CountDownLatch(1)
      val go = new CountDownLatch(1)
      val loser = Future {
        Pipeline.rollbackTo(spark, root, targetV = 1L, toV = 3L,
          beforeCommit = () => {
            parked.countDown(); go.await(120, TimeUnit.SECONDS); ()
          }).collect()
      }
      assert(parked.await(120, TimeUnit.SECONDS))
      val w = Pipeline.admitShard(spark, shardC, root, closeLoop = true)
        .collect()
        .map(x => x.getString(0) -> x.getAs[Boolean]("pass")).toMap
      assert(w("published_version")) // admission owns v3
      go.countDown()
      val e = intercept[IllegalArgumentException] {
        Await.result(loser, 300.seconds)
      }
      assert(e.getMessage.contains("commit conflict"), e.getMessage)
      assert(tipOf(root) == 3L &&
        resolve(root, 3L).exists(_.contains("v3_admitted")))
      // the rollback retries against the new tip: v4 re-stamps v1
      val retry = Pipeline.rollbackTo(spark, root, targetV = 1L,
        toV = 4L).collect()
      assert(retry.forall(_.getAs[Boolean]("files_shared")))
      assert(tipOf(root) == 4L && countOf(root, 4L) == countOf(root, 1L))
    }
    locally { // C2: admission parks, rollback wins
      val root = freshRoot()
      val parked = new CountDownLatch(1)
      val go = new CountDownLatch(1)
      val loser = Future {
        Pipeline.admitShard(spark, shardC, root, closeLoop = true,
          beforeCommit = () => {
            parked.countDown(); go.await(120, TimeUnit.SECONDS); ()
          }).collect()
      }
      assert(parked.await(120, TimeUnit.SECONDS))
      Pipeline.rollbackTo(spark, root, targetV = 1L, toV = 3L).collect()
      assert(tipOf(root) == 3L &&
        resolve(root, 3L) == resolve(root, 1L)) // rollback owns v3
      go.countDown()
      val e = intercept[IllegalArgumentException] {
        Await.result(loser, 300.seconds)
      }
      assert(e.getMessage.contains("commit conflict"), e.getMessage)
      assert(!dirNames(s"$root/stage").exists(_.contains("v3_admitted")),
        "losing admission's staged dir must be deleted on conflict")
      // the admission retries against the rolled-back tip: v4 admits
      // shardC against v3 (= v1's paths, v1+v2 deltas pinned ≤ 3)
      val retry = Pipeline.admitShard(spark, shardC, root,
        closeLoop = true).collect()
        .map(x => x.getString(0) -> x.getAs[Boolean]("pass")).toMap
      assert(retry("published_version") && tipOf(root) == 4L)
    }

    // INTERLEAVING D: rollback RACED against the vacuum — the
    // rollback observes its target live, parks before its commit; a
    // concurrent expire commits an expire entry for the target. The
    // manifest tip never moves, so a tip check alone would pass and
    // publish a version pointing at a vacuumable snapshot — the
    // rollback loses the log entry to the expire, re-checks the
    // tombstones at the new head, and must refuse.
    locally {
      val root = freshRoot() // tip = 2
      val parked = new CountDownLatch(1)
      val go = new CountDownLatch(1)
      val loser = Future {
        Pipeline.rollbackTo(spark, root, targetV = 1L, toV = 3L,
          beforeCommit = () => {
            parked.countDown(); go.await(120, TimeUnit.SECONDS); ()
          }).collect()
      }
      assert(parked.await(120, TimeUnit.SECONDS))
      val exp = Pipeline.expireVersions(spark, root, keepLast = 1)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(exp == Map(1L -> false, 2L -> true))
      go.countDown()
      val e = intercept[IllegalArgumentException] {
        Await.result(loser, 300.seconds)
      }
      assert(e.getMessage.contains("expired"), e.getMessage)
      // the tip is untouched and no dangling v3 was published
      assert(tipOf(root) == 2L)
      assert(resolve(root, 3L).isEmpty)
    }
  }

  test("pipe17: version-hash materialization is scratch-parquet, not " +
    "block-manager state — scratch provably deleted, result plan " +
    "holds no LogicalRDD") {
    def scratchDirs(): Set[String] = {
      val tmp = new java.io.File(
        System.getProperty("java.io.tmpdir")).listFiles()
      if (tmp == null) Set.empty
      else tmp.filter(_.getName.startsWith("graft_pipe17_hash"))
        .map(_.getAbsolutePath).toSet
    }
    val before = scratchDirs()
    val df = Pipeline.pipe17VersionDiff(spark, sf)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    // the settled root's story: v1→v2 adds the admitted survivors,
    // v2→v3 (the compaction) is invisible to a reader
    assert(rows.map(t => (t._1, t._2)) == Seq((1L, 2L), (2L, 3L)))
    assert(rows(0)._3 > 0L && rows(0)._4 == 0L && rows(0)._5 == 0L)
    assert(rows(1)._3 == 0L && rows(1)._4 == 0L && rows(1)._5 == 0L)
    // the corpus-sized hash relations lived ONLY in scratch parquet
    // and are gone the moment the bounded rows are collected — the
    // r13 finding's contract (no localCheckpoint pinning executor
    // block storage until GC)
    assert(scratchDirs() == before,
      "pipe17 left version-hash scratch dirs behind")
    // the result is a bounded local relation: no LogicalRDD (the
    // localCheckpoint residue) anywhere in its plan
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("LogicalRDD"),
      s"pipe17 plan still carries checkpointed lineage:\n$plan")
  }

  test("pipe19 + maintenance writer: a compaction interleaved " +
    "between streaming micro-batches — the loop admits the next " +
    "shard against the compacted tip and the final corpus is intact",
    SlowTests) {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val in = Pipeline.pipe19Inputs(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_p19c")
      .toString
    Pipeline.publishV1Meta(spark, s"$in/base", root)
    def tipOf(): Long = Pipeline.readLog(spark, root).tip
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    @volatile var compactedAt = -1L
    val q = ss.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, " +
        "n_chars LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/feed")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Pipeline.admitShard(b.sparkSession, b, root, closeLoop = true)
          .collect()
        // the maintenance writer fires once, BETWEEN micro-batches:
        // the next admission must compose against the compacted tip
        if (compactedAt < 0) {
          compactedAt = tipOf()
          Pipeline.compactVersion(spark, root, compactedAt).collect()
        }
        ()
      }
      .start()
    try assert(q.awaitTermination(300000)) finally q.stop()
    // v1 publish, v2 first shard, v3 compaction, v4 second shard
    assert(compactedAt == 2L && tipOf() == 4L)
    val v4 = Pipeline.readLog(spark, root).paths(4L)
    assert(v4.exists(_.contains("v3_compact")), "the admitted tip must " +
      "reference the compacted files, not the fragmented originals")
    assert(v4.exists(_.contains("v4_admitted")))
    // content: base ∪ surviving shard fps, exactly as the
    // compaction-free run — the rewrite is invisible to admission
    // (its index/stats carry no delta, the anti-join composes over
    // v1+v2's deltas)
    val docs = Tables.load(spark, sf, "documents")
    val fp = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
    val hasText = col("text").isNotNull && length(col("text")) > 0
    val base = docs.filter(col("doc_id") % 5 <= 2)
    val sh = docs.filter(col("doc_id") % 5 >= 3)
    val newFp = sh.filter(hasText).select(fp.as("fp")).distinct()
      .join(base.filter(hasText).select(fp.as("fp")).distinct(),
        Seq("fp"), "left_anti").count()
    val shNulls = sh.filter(!hasText).count()
    val n4 = v4.map(spark.read.parquet(_)).reduce(_ unionByName _).count()
    assert(n4 == base.count() + newFp + shNulls,
      "interleaved compaction must not change the admitted corpus")
  }

  test("pipe19 widened: a multi-shard feed (4 disjoint shards + one " +
    "injected DUPLICATE shard) lands on the batch-admitted corpus in " +
    "either arrival order — the order-invariance argument exercised " +
    "past n=2", SlowTests) {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val docs = Tables.load(spark, sf, "documents")
    val hasText = col("text").isNotNull && length(col("text")) > 0
    val fp = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
    val base = docs.filter(col("doc_id") % 5 <= 2)
    // 4 disjoint sub-shards of the 2/5 tail, TEXT-ONLY: every row
    // carries a fingerprint, so the duplicated shard is fully
    // rejected on its second arrival and every total below is
    // order-invariant (null docs are admit-always by design and
    // would make a duplicated shard's accounting order-dependent)
    def sub(i: Int) = docs.filter(col("doc_id") % 5 >= 3 &&
      pmod(col("doc_id"), lit(4)) === i && hasText)
    val allSh = (0 to 3).map(sub).reduce(_ unionByName _)
    def runLoop(order: Seq[Int]): (Long, Long, Long, Long, String) = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_p19w").toString
      base.write.parquet(s"$dir/base")
      for (i <- order) { // one file per arrival, mod-time ordered
        sub(i).coalesce(1).write
          .mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$dir/feed")
        Thread.sleep(20)
      }
      val root = java.nio.file.Files
        .createTempDirectory("graft_p19wr").toString
      Pipeline.publishV1Meta(spark, s"$dir/base", root)
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "2")
      val reports =
        scala.collection.mutable.ArrayBuffer.empty[Map[String, Long]]
      val q = ss.readStream
        .schema("doc_id LONG, text STRING, lang STRING, " +
          "source STRING, n_chars LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/feed")
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          reports += Pipeline.admitShard(b.sparkSession, b, root,
              closeLoop = true)
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          ()
        }
        .start()
      try assert(q.awaitTermination(300000)) finally q.stop()
      assert(reports.length == order.length,
        s"one micro-batch per arriving file: ${reports.length}")
      val log = Pipeline.readLog(spark, root)
      (log.tip, reports.map(_("admitted_new")).sum,
        reports.map(_("rejected_dup")).sum,
        log.paths(log.tip)
          .map(spark.read.parquet(_)).reduce(_ unionByName _).count(),
        root)
    }
    // batch oracle (order-free restatement): total admitted = the
    // distinct shard fingerprints not already published in the base;
    // the duplicate's second arrival adds only rejections
    val expAdmit = allSh.select(fp.as("f")).distinct()
      .join(base.filter(hasText).select(fp.as("f")).distinct(),
        Seq("f"), "left_anti").count()
    val arrivedRows = allSh.count() + sub(1).count() // shard 1 twice
    for (order <- Seq(Seq(0, 1, 1, 2, 3), Seq(3, 2, 1, 0, 1))) {
      val (tip, admitted, rejected, nFinal, root) = runLoop(order)
      assert(tip == 1L + order.length,
        s"every batch (incl. the all-rejected duplicate) publishes " +
          s"one version: tip=$tip for order $order")
      assert(admitted == expAdmit, s"order $order admitted $admitted")
      assert(rejected == arrivedRows - expAdmit)
      assert(nFinal == base.count() + expAdmit)
      // the final corpus's fingerprint SET equals base ∪ shards —
      // content equality, not just counts
      val finalFps = Pipeline.readLog(spark, root).paths(tip)
        .map(spark.read.parquet(_)).reduce(_ unionByName _)
        .filter(hasText).select(fp.as("f")).distinct()
      val wantFps = base.filter(hasText).unionByName(allSh)
        .select(fp.as("f")).distinct()
      assert(finalFps.exceptAll(wantFps).isEmpty &&
        wantFps.exceptAll(finalFps).isEmpty,
        s"order $order: final fingerprint set diverged from the " +
          "batch-admitted corpus")
    }
  }

  test("pipe19: streaming admission lands on the batch-derived " +
    "accounting — one version per arriving shard") {
    import org.apache.spark.sql.functions._
    val report = Pipeline.pipe19StreamingAdmission(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // batch replay of the loop's order-invariant facts
    val docs = Tables.load(spark, sf, "documents")
    val fp = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
    val hasText = col("text").isNotNull && length(col("text")) > 0
    val base = docs.filter(col("doc_id") % 5 <= 2)
    val sh = docs.filter(col("doc_id") % 5 >= 3)
    val newFp = sh.filter(hasText).select(fp.as("fp")).distinct()
      .join(base.filter(hasText).select(fp.as("fp")).distinct(),
        Seq("fp"), "left_anti").count()
    val shNulls = sh.filter(!hasText).count()
    assert(report("final_version") == 3L,
      s"two passing shards must publish v2 and v3: $report")
    assert(report("admitted_total") == newFp + shNulls)
    assert(report("n_docs_final") == base.count() + newFp + shNulls)
    assert(report("rejected_dup_total") == sh.count() - newFp - shNulls)
  }
}
