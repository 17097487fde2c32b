package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Relational

class RelationalSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("every registered query runs and the registry is consistent") {
    Relational.registry.foreach { q =>
      val df = q.build(spark, sf)
      assert(df.columns.nonEmpty, s"${q.name} has no columns")
      assert(df.count() >= 0, s"${q.name} failed to execute")
    }
  }

  test("q1 pricing summary aggregates all lineitem rows") {
    val df = Relational.q1PricingSummary(spark, sf)
    val total = df.agg(sum("count_order")).head.getLong(0)
    val expected = Tables.load(spark, sf, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02")).count()
    assert(total == expected)
  }

  test("j2 anti + j3 semi partition the key space sensibly") {
    val customers = Tables.load(spark, sf, "customer").count()
    val without = Relational.j2AntiJoin(spark, sf).count()
    val withOrders = Tables.load(spark, sf, "customer")
      .join(Tables.load(spark, sf, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(without + withOrders == customers)
  }

  test("a2 checksum is order-insensitive: shuffled input gives same sums") {
    val a = Relational.a2ChunkChecksum(spark, sf)
    val li = Tables.load(spark, sf, "lineitem").repartition(7, col("l_partkey"))
    val b = li.groupBy(floor(col("l_orderkey") / 1000).cast("long").as("chunk_id"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.Norm.sparkRowChecksum(Relational.lineitemNorm).as("row_checksum"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("a3 guard bounds cover the whole key range") {
    val r = Relational.a3MinMaxGuard(spark, sf).head
    assert(r.getAs[Long]("min_key") <= r.getAs[Long]("max_key"))
  }

  test("w5 emits at most 3 rows per nation, ranked") {
    val df = Relational.w5TopPerGroup(spark, sf)
    val over = df.groupBy("c_nationkey").count().filter(col("count") > 3).count()
    assert(over == 0)
  }

  test("j7 salting stays on the shuffle path and is salt-invariant") {
    val df = Relational.j7SaltedSkewJoin(spark, sf)
    // the hint must hold: this is the pattern for joins too big to
    // broadcast, so the demo has to exercise a shuffle join
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.take(2000))
    // salt-invariance: the salted result equals the plain unsalted join
    val li = Tables.load(spark, sf, "lineitem").select(
      when(pmod(col("l_orderkey"), lit(10)) < 8, lit(0L))
        .otherwise(pmod(col("l_orderkey"), lit(25)).cast("long")).as("dim_key"),
      col("l_extendedprice")
        .cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("price"))
    val nat = Tables.load(spark, sf, "nation")
      .select(col("n_nationkey").cast("long").as("dim_key"), col("n_name"))
    val plain = li.join(nat, "dim_key").groupBy("n_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price")).cast(org.apache.spark.sql.types.DecimalType(38, 2))
          .cast("string").as("revenue"))
    assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
  }

  test("j7 alternative: AQE skew-join splits the same hot key, unsalted") {
    // Would AQE's OptimizeSkewedJoin absorb j7's skew with no salt?
    // Pinned here: YES for the join — with the byte thresholds scaled
    // to this data size the executed adaptive plan marks the join
    // skew=true and the unsalted result matches j7 exactly. The
    // operational answer at cluster scale, recorded for tuning: leave
    // AQE skew-join ON as the first line (zero code change, it splits
    // oversized post-shuffle partitions and replicates the matching
    // build rows at runtime), and reach for the explicit salt only when
    // (a) the skewed key ALSO feeds a same-keyed aggregation — AQE
    // splits the join but a groupBy on the hot key still lands on one
    // reducer, while j7's salt spreads both — or (b) the skew sits
    // under the default 256 MB partition threshold yet still stalls the
    // stage (many medium-hot keys).
    val ks = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // the split would add no shuffle here, but don't let the
      // ShuffleExchange-reuse veto silently skip the optimization
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      // scale detection to test data: sf0.001's hot partition is tens
      // of KB, not the production 256 MB default
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // nation would broadcast (no shuffle, nothing to skew-split);
      // force the shuffle join a too-big-to-broadcast dim would get
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = ks.map { case (k, _) => k -> spark.conf.getOption(k) }
    ks.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // repartition(8) stands in for production's many map tasks: AQE
      // splits a skewed partition at MAP-OUTPUT BLOCK granularity, so a
      // hot partition fed by a single mapper (sf0.001's one-row-group
      // parquet scan) cannot be split at all — a third case where the
      // explicit salt is the only lever, recorded the hard way by this
      // test's first version failing without it
      val li = Tables.load(spark, sf, "lineitem").repartition(8).select(
        when(pmod(col("l_orderkey"), lit(10)) < 8, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(25)).cast("long")).as("dim_key"),
        col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("price"))
      val nat = Tables.load(spark, sf, "nation")
        .select(col("n_nationkey").cast("long").as("dim_key"), col("n_name"))
      val unsalted = li.join(nat, "dim_key").groupBy("n_name")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price")).cast(org.apache.spark.sql.types.DecimalType(38, 2))
            .cast("string").as("revenue"))
      unsalted.collect() // the AQE final plan exists only after execution
      val plan = unsalted.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(4000))
      val salted = Relational.j7SaltedSkewJoin(spark, sf)
      assert(unsalted.exceptAll(salted).isEmpty &&
        salted.exceptAll(unsalted).isEmpty)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("j8 bloom prefilter passes a superset; semi join restores exactness") {
    val orders = Tables.load(spark, sf, "orders")
    val small = Tables.load(spark, sf, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_nationkey") < 5)
      .select("c_custkey")
    val bf = small.stat.bloomFilter("c_custkey", 1 << 17, 0.01)
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain = udf((k: Long) => bfB.value.mightContain(k))
    val prefiltered = orders.filter(mightContain(col("o_custkey"))).count()
    val exact = orders.join(small,
      col("o_custkey") === col("c_custkey"), "left_semi").count()
    // no false negatives ever; false positives bounded by fpp
    assert(prefiltered >= exact)
    assert(prefiltered <= orders.count())
    // and the registered query's count matches the exact semi join
    val total = Relational.j8BloomPrejoin(spark, sf)
      .agg(sum("n_orders")).head.getLong(0)
    assert(total == exact)
  }

  test("j6 banding is lossless: banded pairs == naive range-join pairs") {
    val banded = Relational.j6BandedRangeJoin(spark, sf)
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("epoch"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("epoch").as("e_epoch"))
    val view = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("epoch").as("v_epoch"))
    // the O(N·M) plan the banding replaces — fine at sf0.001, the
    // point of j6 is that it never runs at scale
    val naive = err.crossJoin(view)
      .filter(abs(col("e_epoch") - col("v_epoch")) <= 2)
      .select(col("error_id"), col("view_id"),
        (col("v_epoch") - col("e_epoch")).as("delta_s"))
    assert(banded.exceptAll(naive).isEmpty && naive.exceptAll(banded).isEmpty)
  }

  test("w11 sessions partition the event log and honor the 30-min gap") {
    val ev = graft.Tables.load(spark, sf, "events")
    val sess = Relational.w11Sessionize(spark, sf)
    // partition: session event counts sum to the event count
    assert(sess.agg(sum("n_events")).head.getLong(0) == ev.count())
    // gap rule, both directions: consecutive sessions of a user are
    // separated by > 1800 s (else they would have merged), and every
    // session's span is consistent (start <= end, duration matches)
    val perUser = sess.orderBy("user_id", "sess_idx").collect()
      .groupBy(_.getAs[Long]("user_id"))
    perUser.values.foreach { rows =>
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_epoch") -
            a.getAs[Long]("end_epoch") > 1800,
            "adjacent sessions closer than the gap rule allows")
        case _ => ()
      }
      rows.foreach { r =>
        assert(r.getAs[Long]("duration_s") ==
          r.getAs[Long]("end_epoch") - r.getAs[Long]("start_epoch"))
        assert(r.getAs[Long]("duration_s") >= 0)
      }
    }
  }

  test("a37 skew profile internal consistency") {
    val ev = graft.Tables.load(spark, sf, "events")
    val r = Relational.a37SkewProfile(spark, sf).head
    assert(r.getAs[Long]("n_rows") == ev.count())
    assert(r.getAs[Long]("n_keys") ==
      ev.select("user_id").distinct().count())
    val (p50, p99, max) = (r.getAs[Long]("p50_c"),
      r.getAs[Long]("p99_c"), r.getAs[Long]("max_c"))
    assert(p50 <= p99 && p99 <= max)
    assert(r.getAs[Double]("top1_share") > 0 &&
      r.getAs[Double]("top1_share") <= 1.0)
    // skew_factor is max/mean: >= 1 by definition of max
    assert(r.getAs[Double]("skew_factor") >= 1.0)
  }

  test("a39 CMS: never undercounts, nails the hot key, stays in bound") {
    val rows = Relational.a39HeavyHittersCms(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("overcount") >= 0,
        "CMS can only OVERcount — an undercount is a hash-split bug")
      assert(r.getAs[Boolean]("within_bound"), r.toString)
    }
    val hot = rows.find(_.getAs[String]("key") == "hot").get
    // the heavy hitter's relative error must be far below the tail's
    // noise floor — the property that makes the sketch useful
    assert(hot.getAs[Long]("overcount").toDouble /
      hot.getAs[Long]("true_c") < 0.05,
      s"hot-key estimate not tight: $hot")
  }

  test("ann9 fusion: a doc on both top-10 lists outranks rank-peers on one") {
    import graft.functions.Similarity
    val fused = Similarity.ann9HybridRrf(spark, sf).collect()
    assert(fused.nonEmpty)
    val byQ = fused.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      assert(rows.length <= 5)
      rows.foreach { r =>
        val lex = Option(r.getAs[Integer]("lex_rank")).map(_.toInt)
        val vec = Option(r.getAs[Integer]("vec_rank")).map(_.toInt)
        assert(lex.nonEmpty || vec.nonEmpty,
          "a fused row must come from at least one list")
        val want = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
          vec.map(x => 1.0 / (60 + x)).getOrElse(0.0)
        assert(r.getAs[Double]("rrf_score") == want)
      }
      // ranks within a query are strictly ordered by score then id
      val sorted = rows.sortBy(r => (-r.getAs[Double]("rrf_score"),
        r.getAs[Long]("neighbor_id")))
      assert(sorted.map(_.getAs[Integer]("fused_rank").toInt).toSeq ==
        (1 to rows.length))
    }
  }

  test("a44 HLL registers match an independent JVM replay and the " +
    "big-domain estimate is accurate") {
    // independent replay of the sketch: java MessageDigest md5 (not
    // Spark's), same 60-bit slice, buckets, ranks, register sum
    def h60(v: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(v.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def replay(values: Seq[String]): (Long, Long) = {
      val regs = scala.collection.mutable.Map.empty[Long, Int]
      for (v <- values) {
        val h = h60(v); val b = h % 4096; val w = h / 4096
        val rho =
          if (w == 0) 49 else 49 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        regs(b) = math.max(regs.getOrElse(b, 0), rho)
      }
      val hit = regs.size.toLong
      val sum = regs.values.map(r => 1L << (49 - r)).sum +
        (4096L - hit) * (1L << 49)
      (hit, sum)
    }
    val got = Relational.a44HllDistinct(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    val orders = Tables.load(spark, sf, "orders")
      .select(col("o_custkey").cast("string")).collect()
      .map(_.getString(0)).toSeq
    val (hit, sum) = replay(orders)
    val r = got("orders.o_custkey")
    assert(r.getAs[Long]("n_hit") == hit)
    assert(r.getAs[Long]("sum_scaled") == sum)
    // arithmetic coherence on every row; accuracy where HLL is valid
    for ((_, row) <- got) {
      val (est, exact, err) = (row.getAs[Long]("est_x1e6"),
        row.getAs[Long]("exact_distinct"), row.getAs[Long]("err_x1e6"))
      assert(err == math.floor(
        math.abs(est - exact * 1000000L).toDouble / exact).toLong)
      if (row.getAs[Boolean]("in_range"))
        assert(err < 50000L, // < 5%: sigma for m=4096 is ~1.6%
          s"${row.getAs[String]("col_name")}: err=$err")
    }
  }

  test("a45 histogram quantiles bracket the exact sorted percentile " +
    "within one bucket width") {
    val rows = Relational.a45HistQuantiles(spark, sf).collect()
    assert(rows.length == 6) // 2 columns x 3 quantiles
    def exactQ(table: String, c: String, q: Long): Double = {
      val vs = Tables.load(spark, sf, table)
        .select(col(c).cast("double")).collect()
        .map(_.getDouble(0)).sorted
      vs(((q * vs.length + 99) / 100 - 1).toInt) // ceil-rank element
    }
    for (r <- rows) {
      val (cn, q, est) = (r.getAs[String]("col_name"),
        r.getAs[Long]("q"), r.getAs[Long]("est_upper"))
      val Array(t, c) = cn.split("\\.")
      val v = exactQ(t, c, q)
      // the ceil-rank element lives in the reported bucket, so the
      // upper-edge estimate over-reports by less than one width
      assert(v <= est && v > est - 256, s"$cn p$q: exact=$v est=$est")
    }
  }

  test("a40 drift gate: hand-computed chi-square on a two-bucket shift") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_a40").toString
    val ts = java.sql.Timestamp.valueOf(_: String)
    // baseline era: A,A,B,B; current era: A,A,A,A — a clean shift
    // (categoricals share one code path; prices pinned to bucket 0)
    Seq(
      (1L, 1L, "A", 10.0, ts("1995-01-01 00:00:00"), "1-URGENT"),
      (2L, 1L, "A", 10.0, ts("1995-01-01 00:00:00"), "1-URGENT"),
      (3L, 1L, "B", 10.0, ts("1995-01-01 00:00:00"), "1-URGENT"),
      (4L, 1L, "B", 10.0, ts("1995-01-01 00:00:00"), "1-URGENT"),
      (5L, 1L, "A", 10.0, ts("1997-01-01 00:00:00"), "1-URGENT"),
      (6L, 1L, "A", 10.0, ts("1997-01-01 00:00:00"), "1-URGENT"),
      (7L, 1L, "A", 10.0, ts("1997-01-01 00:00:00"), "1-URGENT"),
      (8L, 1L, "A", 10.0, ts("1997-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$tmp/orders.parquet")
    val got = Relational.a40DriftGate(spark, tmp).collect()
      .map(r => r.getAs[String]("col_name") ->
        ((r.getAs[Long]("n_buckets"), r.getAs[Long]("chi2_scaled"),
          r.getAs[Boolean]("drifted")))).toMap
    // o_orderstatus: buckets A (2 base, 4 cur) and B (2 base, 0 cur);
    // E_A = 4*(2+1)/(4+2) = 2, term = (4-2)^2/2 = 2; E_B = 2,
    // term = (0-2)^2/2 = 2 -> chi2 = 4.0 at 10^6 scale, under gate
    assert(got("o_orderstatus") == ((2L, 4000000L, false)),
      s"status: ${got("o_orderstatus")}")
    // single-bucket columns: E = 4*(4+1)/(4+1) = 4 = observed -> 0
    assert(got("o_totalprice") == ((1L, 0L, false)))
    assert(got("o_orderpriority") == ((1L, 0L, false)))
  }

  test("ann12 filtered search: counts coherent at BOTH selectivity " +
    "regimes, and the rare filter starves the post-filter page") {
    val rows = graft.functions.Similarity.ann12FilteredSearch(spark, sf)
      .collect()
      .map(r => r.getAs[String]("sel") -> r).toMap
    assert(rows.keySet == Set("label_9pct", "rare_2pct"))
    val nQ = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 100 === 0).count()
    for ((sel, row) <- rows) {
      val (ne, hp, hr, ke) = (row.getAs[Long]("n_expected"),
        row.getAs[Long]("hits_post"), row.getAs[Long]("hits_pre"),
        row.getAs[Long]("k_eff_post"))
      // truth holds up to 5 per query; hits can never exceed it; the
      // post-filter page can never exceed 5 per query either
      assert(ne > 0 && ne <= 5 * nQ, s"$sel: n_expected=$ne")
      assert(hp >= 0 && hp <= ne && hr >= 0 && hr <= ne,
        s"$sel: hits=$hp/$hr")
      assert(ke <= 5 * nQ, s"$sel: k_eff=$ke")
      assert(row.getAs[Double]("recall_post") == hp.toDouble / ne)
      assert(row.getAs[Double]("recall_pre") == hr.toDouble / ne)
      // pre >= post is asserted ONLY in the rare regime, where it is
      // structural (the post page starves to a handful of rows while
      // pre ranks every matching row in the probed cell). At common
      // selectivity it is merely empirical: post can hit a truth
      // neighbor that sits in the unfiltered exact top-10 but OUTSIDE
      // the query's probed IVF cell, which single-cell pre-filter
      // misses — so a data-generator or cell-geometry change could
      // legitimately flip it there (r11 advice)
      if (sel == "rare_2pct")
        assert(hr >= hp, s"$sel: recall_pre < recall_post ($hr < $hp)")
    }
    // the production failure mode: at ~3% selectivity the unfiltered
    // top-10 rarely contains matches, so the post page starves — it
    // must be strictly smaller than at the ~9% filter, and smaller
    // than the truth it is supposed to fill
    val keRare = rows("rare_2pct").getAs[Long]("k_eff_post")
    assert(keRare < rows("label_9pct").getAs[Long]("k_eff_post"),
      s"rare k_eff=$keRare not below common")
    assert(keRare < rows("rare_2pct").getAs[Long]("n_expected"))
  }

  test("a49 MAD outlier gate: fences bracket the exact median, the " +
    "count matches an independent recount, and the injected tail is " +
    "caught without flagging the body") {
    val r = graft.operators.Relational.a49OutlierMad(spark, sf)
      .collect()
    assert(r.length == 1)
    val row = r(0)
    val (med, mad, nRows, nOut) = (row.getAs[Long]("med_est"),
      row.getAs[Long]("mad_est"), row.getAs[Long]("n_rows"),
      row.getAs[Long]("n_outliers"))
    assert(row.getAs[Long]("outlier_ppm") == nOut * 1000000L / nRows)
    // independent recount from raw values (driver-side, sf0.01 scale)
    val vs = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("value")).collect()
      .map(x => if (x.getLong(0) % 97 == 0) x.getDouble(1) * 50.0
        else x.getDouble(1))
    assert(nRows == vs.length.toLong)
    // histogram medians report the bucket's inclusive upper edge —
    // the exact median sits within one width below (a45's contract)
    val w = graft.operators.Relational.A49Width
    def exactMed(xs: Array[Double]) = {
      val s = xs.sorted; s((s.length + 1) / 2 - 1)
    }
    val em = exactMed(vs)
    assert(em <= med && em > med - w, s"median $em vs est $med")
    val emad = exactMed(vs.map(v => math.abs(v - med)))
    assert(emad <= mad && emad > mad - w, s"MAD $emad vs est $mad")
    val recount = vs.count(v => v < med - 5L * mad || v > med + 5L * mad)
    assert(nOut == recount.toLong)
    // the constructed regime: every INJECTED row that crosses the
    // fences must be in the count (the base metric has a natural
    // tail of its own — measured: 25 outliers vs 11 spiked rows at
    // sf0.01 — so the gate reports what crossed, never just the
    // injection)
    val spikedCrossers = Tables.load(spark, sf, "events")
      .filter(col("event_id") % 97 === 0)
      .select(col("value")).collect().map(_.getDouble(0) * 50.0)
      .count(v => v < med - 5L * mad || v > med + 5L * mad)
    assert(spikedCrossers > 0 && nOut >= spikedCrossers.toLong,
      s"outliers=$nOut spiked-crossers=$spikedCrossers")
  }

  test("ann14 MRL sweep: coherent counts per prefix length, and more " +
    "dims recover more of the exact top-10 on this corpus") {
    val rows = graft.functions.Similarity.ann14MrlRecall(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("dims") ->
        ((r.getAs[Long]("n_expected"), r.getAs[Long]("n_hits"),
          r.getAs[Double]("recall")))).toMap
    assert(rows.keySet == Set(16L, 32L))
    val nQ = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 100 === 0).count()
    for ((dims, (ne, nh, rec)) <- rows) {
      assert(ne == 10 * nQ, s"dims=$dims: n_expected=$ne")
      assert(nh >= 0 && nh <= ne, s"dims=$dims: n_hits=$nh")
      assert(rec == nh.toDouble / ne)
      // untrained gaussian embeddings: a prefix is a lossy random
      // projection, so recall must sit strictly inside (0, 1) — a
      // 1.0 here would mean the truncation isn't actually truncating
      assert(rec > 0.0 && rec < 1.0, s"dims=$dims: recall=$rec")
    }
    // monotonicity in the prefix length is EMPIRICAL (pinned for
    // this synthetic corpus, the ann12 pre/post convention): these
    // embeddings are not MRL-trained, but a longer prefix of the
    // same vector still carries strictly more of the cosine mass
    // here, and a generator change that flips this should be seen
    assert(rows(32L)._3 > rows(16L)._3,
      s"recall(32)=${rows(32L)._3} <= recall(16)=${rows(16L)._3}")
  }

  test("ann11 MMR re-rank equals an independent greedy recomputation") {
    val got = graft.functions.Similarity.ann11MmrRerank(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("step")))
    // recompute from raw embeddings: same ascending-index cosine fold
    val vecs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))
    }
    val queries = vecs.keys.filter(_ % 100 == 0)
    val want = queries.flatMap { q =>
      // exact top-10 shortlist: cos desc, vec_id asc (ann1's rule)
      val short = vecs.keys.filter(_ != q).toSeq
        .map(v => (v, cos(q, v)))
        .sortBy { case (v, c) => (-c, v) }.take(10)
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      for (step <- 1 to 5) {
        val cand = short.filterNot(c => sel.exists(_._1 == c._1))
        val best = cand.map { case (v, rel) =>
          val score = if (sel.isEmpty) rel
            else 0.7 * rel - 0.3 * sel.map(s => cos(v, s._1)).max
          (v, score)
        }.minBy { case (v, sc) => (-sc, v) }
        sel += ((best._1, step))
      }
      sel.map { case (v, step) => (q, v, step) }
    }.toSet
    assert(got.toSet == want, s"got=${got.length} want=${want.size}")
    // the diversified page is 5 DISTINCT ids per query, step 1 = the
    // relevance argmax (pure top-1 never changes under MMR)
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).distinct.length == 5)
    }
  }

  test("a41: clean schema audits ok; deleted parents become orphans") {
    val clean = Relational.a41FkAudit(spark, sf).collect()
    assert(clean.length == 7)
    assert(clean.forall(_.getAs[Boolean]("ok")),
      "generated TPC-H data must be referentially intact")
    // corrupt: copy the tables but drop half the orders — their
    // lineitems must surface as orphan keys AND rows, nothing else
    val dir = java.nio.file.Files.createTempDirectory("graft_a41").toString
    for (t <- Tables.all) {
      val df = Tables.load(spark, sf, t)
      val out = if (t == "orders") df.filter(col("o_orderkey") % 2 === 0)
        else df
      out.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val rows = Relational.a41FkAudit(spark, dir).collect()
      .map(r => r.getAs[String]("relationship") -> r).toMap
    val broken = rows("lineitem.l_orderkey->orders")
    assert(!broken.getAs[Boolean]("ok"))
    assert(broken.getAs[Long]("n_orphan_keys") > 0)
    assert(broken.getAs[Long]("n_orphan_rows") >=
      broken.getAs[Long]("n_orphan_keys"))
    // the o_custkey edge SHRANK but stays intact; every other edge
    // is untouched
    assert(rows.filter(_._1 != "lineitem.l_orderkey->orders")
      .values.forall(_.getAs[Boolean]("ok")))
  }
}
