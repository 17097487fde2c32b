package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Query, Tables}
import graft.functions.Norm
import graft.functions.Norm._

/** Core relational operators from SURVEY.md §2: scans with chunk
  * predicates (S1/S2, P3), export projection (P1), catalog-style joins
  * (J1), anti/semi joins (J2/J3), aggregation families (A1-A9), and
  * window top-N (W5).
  *
  * Design rules (100 TB): all filters/projections are declarative so
  * Catalyst pushes them into the parquet scan; dimension joins are
  * explicitly `broadcast()`; every aggregate is partial-aggregable
  * (map-side combine); no driver-side materialization.
  */
object Relational {

  import org.apache.spark.sql.Column

  /** Exact decimal aggregates are *rendered to canonical strings* in
    * query outputs: the reference engine's whole compare model is
    * canonical string rendering per value (`database/oracle/compare.go:
    * 197-274`), and strings are the only representation that is
    * bit-stable across Spark, parquet, pandas, and the DuckDB oracle
    * (decimal→double casts can differ by 1 ulp between engines;
    * double sums are order-dependent). Internal math stays DECIMAL —
    * exact and associative, so partial aggregation at 100 TB is safe.
    */
  private def decStr(c: Column): Column = c.cast("string")

  private def li(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables.load(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables.load(s, d, "customer")
  private def nat(s: SparkSession, d: String) = Tables.load(s, d, "nation")
  private def reg(s: SparkSession, d: String) = Tables.load(s, d, "region")
  private def part(s: SparkSession, d: String) = Tables.load(s, d, "part")

  /** Canonical lineitem row rendering for checksums (P1/P2/A2). */
  val lineitemNorm: Seq[NormCol] = Seq(
    NormCol("l_orderkey", KLong), NormCol("l_partkey", KLong),
    NormCol("l_suppkey", KLong), NormCol("l_linenumber", KLong),
    NormCol("l_quantity", KDec(12, 2)), NormCol("l_extendedprice", KDec(12, 2)),
    NormCol("l_discount", KDec(12, 2)), NormCol("l_tax", KDec(12, 2)),
    NormCol("l_returnflag", KStr), NormCol("l_linestatus", KStr),
    NormCol("l_shipdate", KDate))

  // ---------------------------------------------------------------- queries

  /** q1: pricing-summary aggregation (A6-family groupBy/agg).
    * Money math in exact DECIMAL so the DuckDB oracle hash-matches
    * bit-for-bit (double sums are order-dependent; decimal sums are
    * exact and associative → safe under any partitioning).
    */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame = {
    val qty = col("l_quantity").cast(DecimalType(12, 2))
    val price = col("l_extendedprice").cast(DecimalType(12, 2))
    val disc = col("l_discount").cast(DecimalType(5, 2))
    val tax = col("l_tax").cast(DecimalType(5, 2))
    li(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decStr(sum(qty).cast(DecimalType(38, 2))).as("sum_qty"),
        decStr(sum(price).cast(DecimalType(38, 2))).as("sum_base_price"),
        decStr(sum(price * (lit(1).cast(DecimalType(5, 2)) - disc))
          .cast(DecimalType(38, 4))).as("sum_disc_price"),
        decStr(sum(price * (lit(1).cast(DecimalType(5, 2)) - disc)
          * (lit(1).cast(DecimalType(5, 2)) + tax))
          .cast(DecimalType(38, 6))).as("sum_charge"),
        count(lit(1)).as("count_order"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_qty,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_base_price,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2)))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_disc_price,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2))) * (CAST(1 AS DECIMAL(5,2)) + CAST(l_tax AS DECIMAL(5,2)))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** j1: star join lineitem⋈orders⋈customer⋈nation⋈region → revenue
    * by nation (J1). Dims are broadcast — at 100 TB only the two fact
    * tables shuffle, and lineitem⋈orders co-partitions on orderkey.
    */
  def j1RevenueByNation(s: SparkSession, d: String): DataFrame = {
    val price = col("l_extendedprice").cast(DecimalType(12, 2))
    val disc = col("l_discount").cast(DecimalType(5, 2))
    li(s, d)
      .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        decStr(sum(price * (lit(1).cast(DecimalType(5, 2)) - disc))
          .cast(DecimalType(38, 4))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val j1Sql: String =
    """SELECT r_name, n_name,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2)))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  /** q3: shipping-priority — selective filters on three tables
    * (pushed to the scans), broadcast customer dim, groupBy + top-K.
    * The classic selective-join shape: at 100 TB the two date filters
    * prune row groups before the join ever sees a row.
    */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val price = col("l_extendedprice").cast(DecimalType(12, 2))
    val disc = col("l_discount").cast(DecimalType(5, 2))
    li(s, d).filter(col("l_shipdate") > lit("1995-03-15"))
      .join(ord(s, d).filter(col("o_orderdate") < lit("1995-03-15")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust(s, d).filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      .agg(sum(price * (lit(1).cast(DecimalType(5, 2)) - disc))
        .cast(DecimalType(38, 4)).as("rev_d"))
      // top-K on the NUMERIC value; string rendering comes after
      // (ordering the rendered string would sort lexically)
      .orderBy(col("rev_d").desc, col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey"), col("o_date"),
        decStr(col("rev_d")).as("revenue"))
  }

  val q3Sql: String =
    """SELECT l_orderkey, o_date, CAST(rev_d AS VARCHAR) AS revenue FROM (
      |  SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2)))) AS DECIMAL(38,4)) AS rev_d
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment = 'BUILDING'
      |    AND o_orderdate < TIMESTAMP '1995-03-15'
      |    AND l_shipdate > TIMESTAMP '1995-03-15'
      |  GROUP BY 1, 2
      |  ORDER BY rev_d DESC, l_orderkey ASC LIMIT 10) t""".stripMargin

  /** q5: TPC-H local-supplier volume — the 6-table join shape
    * (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region with
    * the c_nationkey = s_nationkey locality constraint). The FIXED
    * dims (nation ⋈ region) broadcast; supplier scales with SF so its
    * join — like the fact joins — is AQE-sized (broadcast while small,
    * shuffle beyond). Exact DECIMAL arithmetic end-to-end, rendered
    * after the numeric sort.
    */
  def q5LocalSupplierVolume(s: SparkSession, d: String): DataFrame = {
    val price = col("l_extendedprice").cast(DecimalType(12, 2))
    val disc = col("l_discount").cast(DecimalType(5, 2))
    val asiaNations = nat(s, d).join(
      reg(s, d).filter(col("r_name") === "ASIA"),
      col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    // supplier scales WITH the data (SF x 10k rows — 1B at the 100 TB
    // target), unlike the fixed nation/region dims: no broadcast
    // hint, AQE broadcasts while it fits and shuffles beyond that
    val sup = Tables.load(s, d, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    li(s, d)
      .join(ord(s, d).filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(cust(s, d), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(price * (lit(1).cast(DecimalType(5, 2)) - disc))
        .cast(DecimalType(38, 4)).as("rev_d"))
      .orderBy(col("rev_d").desc, col("n_name").asc)
      .select(col("n_name"), decStr(col("rev_d")).as("revenue"))
  }

  val q5Sql: String =
    """SELECT n_name, CAST(rev_d AS VARCHAR) AS revenue FROM (
      |  SELECT n_name,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2)))) AS DECIMAL(38,4)) AS rev_d
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN customer ON o_custkey = c_custkey
      |    AND c_nationkey = s_nationkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01'
      |  GROUP BY 1
      |  ORDER BY rev_d DESC, n_name ASC) t""".stripMargin

  /** j2: anti join — customers with no orders (J2, set difference on
    * keys; transferdb `common/strings.go:84-95`).
    */
  def j2AntiJoin(s: SparkSession, d: String): DataFrame =
    cust(s, d).join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  val j2Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** j3: semi join — orders having a high-quantity lineitem (J3). */
  def j3SemiJoin(s: SparkSession, d: String): DataFrame =
    ord(s, d).join(
        li(s, d).filter(col("l_quantity") >= 48),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"))

  val j3Sql: String =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)""".stripMargin

  /** a1: per-chunk COUNT (A1) — chunking becomes a computed bucket of
    * the numeric split key (transferdb CREATE_CHUNKS_BY_NUMBER_COL).
    */
  def a1ChunkCounts(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy(floor(col("o_orderkey") / 1000).cast("long").as("chunk_id"))
      .agg(count(lit(1)).as("n_rows"))

  val a1Sql: String =
    """SELECT CAST(floor(o_orderkey / 1000.0) AS BIGINT) AS chunk_id,
      |       count(*) AS n_rows
      |FROM orders GROUP BY 1""".stripMargin

  /** a2: order-insensitive per-chunk row-set checksum (A2) — the
    * compare-mode fast path: count + sum(hash64(row)) per chunk.
    */
  def a2ChunkChecksum(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy(floor(col("l_orderkey") / 1000).cast("long").as("chunk_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        Norm.sparkRowChecksum(lineitemNorm).as("row_checksum"))

  val a2Sql: String =
    s"""SELECT CAST(floor(l_orderkey / 1000.0) AS BIGINT) AS chunk_id,
       |       count(*) AS n_rows,
       |       ${Norm.duckRowChecksum(lineitemNorm)} AS row_checksum
       |FROM lineitem GROUP BY 1""".stripMargin

  /** a2c: the same chunk summary as a2 in ONE custom aggregate — the
    * typed [[graft.functions.ChunkSummaryAgg]] carries (count, sum)
    * in a single buffer (single-pass, map-side combinable, BigInt so
    * no overflow at any chunk size). Oracle: identical to a2's.
    */
  def a2cSummaryOnePass(s: SparkSession, d: String): DataFrame = {
    val summary = udaf(graft.functions.ChunkSummaryAgg,
      org.apache.spark.sql.Encoders.scalaLong)
    li(s, d)
      .groupBy(floor(col("l_orderkey") / 1000).cast("long").as("chunk_id"))
      .agg(summary(Norm.xhash64(Norm.sparkRow(lineitemNorm))).as("sm"))
      .select(col("chunk_id"), col("sm._1").as("n_rows"),
        col("sm._2").as("row_checksum"))
  }

  /** a3: split-key MIN/MAX guard bounds (A3) plus out-of-range counts —
    * compare must catch target rows outside the source key range
    * (transferdb `module/compare/oracle/o2m/chunk.go:331-369`).
    */
  def a3MinMaxGuard(s: SparkSession, d: String): DataFrame =
    ord(s, d).agg(
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"),
      count(lit(1)).as("n_rows"))

  val a3Sql: String =
    "SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, count(*) AS n_rows FROM orders"

  /** a6: assess-style bucketed overview (A6) — DECODE bucketing becomes
    * when/otherwise; groupBy sums stay exact decimal.
    */
  def a6AssessOverview(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .withColumn("price_band",
        when(col("o_totalprice") < 100000, lit("SMALL"))
          .when(col("o_totalprice") < 300000, lit("MEDIUM"))
          .otherwise(lit("LARGE")))
      .groupBy(col("o_orderstatus"), col("price_band"))
      .agg(
        count(lit(1)).as("n_orders"),
        decStr(sum(col("o_totalprice").cast(DecimalType(14, 2)))
          .cast(DecimalType(38, 2))).as("total_price"))

  val a6Sql: String =
    """SELECT o_orderstatus,
      |  CASE WHEN o_totalprice < 100000 THEN 'SMALL'
      |       WHEN o_totalprice < 300000 THEN 'MEDIUM'
      |       ELSE 'LARGE' END AS price_band,
      |  count(*) AS n_orders,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total_price
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** a7: top-K by measure (A7) — deterministic tiebreak on key. */
  def a7TopK(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      .limit(10)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))

  val a7Sql: String =
    """SELECT p_partkey, p_name, p_retailprice FROM part
      |ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10""".stripMargin

  /** a8: threshold scan (A8) — groups over a compat limit. */
  def a8Threshold(s: SparkSession, d: String): DataFrame =
    ord(s, d).groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") > 15)

  val a8Sql: String =
    """SELECT o_custkey, count(*) AS n_orders FROM orders
      |GROUP BY 1 HAVING count(*) > 15""".stripMargin

  /** a9: split-key election by distinct cardinality (A9) — ONE scan
    * with all candidate count-distincts in a single agg, melted to
    * rows (the reference reads NUM_DISTINCT per candidate from stats;
    * 4 separate scans would be 4× wasted I/O at 100 TB). Exact
    * count-distinct for oracle parity; the scale path swaps each for
    * approx_count_distinct (HLL — one pass, no expand).
    */
  def a9SplitKeyElection(s: SparkSession, d: String): DataFrame = {
    val cands = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val aggs = cands.map(c => countDistinct(col(c)).as(s"nd_$c"))
    li(s, d).agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cands.map(c =>
        struct(lit(c).as("column_name"), col(s"nd_$c").as("n_distinct"))): _*))
        .as("kv"))
      .select(col("kv.column_name"), col("kv.n_distinct"))
  }

  val a9Sql: String =
    """WITH nd AS (
      |  SELECT count(DISTINCT l_orderkey) AS c0, count(DISTINCT l_partkey) AS c1,
      |         count(DISTINCT l_suppkey) AS c2, count(DISTINCT l_linenumber) AS c3
      |  FROM lineitem)
      |SELECT 'l_orderkey' AS column_name, c0 AS n_distinct FROM nd
      |UNION ALL SELECT 'l_partkey', c1 FROM nd
      |UNION ALL SELECT 'l_suppkey', c2 FROM nd
      |UNION ALL SELECT 'l_linenumber', c3 FROM nd""".stripMargin

  /** a9b: the split-key election SCALE path — approx_count_distinct
    * (HyperLogLog++) in place of a9's exact countDistinct, which
    * plans an Expand (4× row multiplication, the round-2 bench
    * regression); HLL is one pass, map-side combinable, no expand.
    * The registered result is the ELECTED column, not the sketch
    * values: HLL estimates are engine-specific, but the election is
    * stable because the candidates' cardinalities differ by orders of
    * magnitude (orderkey ~N/4, partkey ~N/30, suppkey ~N/600,
    * linenumber 7). The oracle elects with exact counts — agreement
    * checks that the approximation preserves the argmax, which is the
    * operator's actual contract (`database/oracle/compare.go:61-82`
    * trusts stats for the same reason).
    */
  def a9bSplitKeyApprox(s: SparkSession, d: String): DataFrame = {
    val cands = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val aggs = cands.map(c => approx_count_distinct(col(c)).as(s"nd_$c"))
    li(s, d).agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cands.map(c =>
        struct(lit(c).as("column_name"), col(s"nd_$c").as("n_distinct"))): _*))
        .as("kv"))
      .select(col("kv.column_name"), col("kv.n_distinct"))
      .orderBy(col("n_distinct").desc, col("column_name").asc)
      .limit(1)
      .select(col("column_name").as("split_column"))
  }

  // the election selects over a9's OWN oracle text, so the candidate
  // set can never drift between the two
  lazy val a9bSql: String =
    s"""SELECT column_name AS split_column FROM ($a9Sql) m
       |ORDER BY n_distinct DESC, column_name ASC LIMIT 1""".stripMargin

  /** a16: skew-safe two-stage salted aggregation — the 100 TB pattern
    * for hot grouping keys: a salt column spreads each key over N
    * partial groups (stage 1, map-side combinable), a second agg
    * removes the salt (stage 2, N rows per key). Decimal sums are
    * associative, so the result is EXACTLY the direct groupBy — which
    * is what the oracle computes. l_returnflag (3 values over 600k
    * rows) is a genuinely skewed key.
    */
  def a16SaltedAgg(s: SparkSession, d: String): DataFrame = {
    val qty = col("l_quantity").cast(DecimalType(12, 2))
    li(s, d)
      .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(qty).as("part_qty"), count(lit(1)).as("part_n"))
      .groupBy(col("l_returnflag"))
      .agg(decStr(sum(col("part_qty")).cast(DecimalType(38, 2)))
        .as("sum_qty"),
        sum(col("part_n")).as("n_rows"))
  }

  val a16Sql: String =
    """SELECT l_returnflag,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_qty,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY 1""".stripMargin

  /** p1: type-directed export projection (P1) — dates/decimals rendered
    * to canonical strings, as the reference does per Oracle type
    * (`module/migrate/sql/oracle/o2m/full.go:885-948`).
    */
  def p1ExportProjection(s: SparkSession, d: String): DataFrame =
    li(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("ship_ts"),
      col("l_quantity").cast(DecimalType(12, 2)).cast("string").as("qty_str"),
      col("l_extendedprice").cast(DecimalType(12, 2)).cast("string").as("price_str"))

  val p1Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts,
      |  CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) AS qty_str,
      |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str
      |FROM lineitem""".stripMargin

  /** p3: chunk predicate + user range filter (P3) — both reach the
    * parquet scan as PushedFilters.
    */
  def p3ChunkFilter(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_orderkey").between(2000, 4000) && col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  val p3Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_orderkey BETWEEN 2000 AND 4000 AND l_quantity > 30""".stripMargin

  /** w6: explicit frame spec — per-customer running order total over
    * a ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW frame (the
    * analytic-frame surface; absent in the reference, native here).
    * Exact decimal inside the frame keeps the running values
    * engine-identical at every row.
    */
  def w6RunningFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord(s, d).select(col("o_custkey"), col("o_orderkey"),
      decStr(sum(col("o_totalprice").cast(DecimalType(14, 2))).over(w)
        .cast(DecimalType(38, 2))).as("running_total"))
  }

  val w6Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS DECIMAL(38,2)) AS VARCHAR) AS running_total
      |FROM orders""".stripMargin

  /** w5: top-N per group via ranking window (W5). */
  def w5TopPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    cust(s, d).withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"), col("rn"))
  }

  val w5Sql: String =
    """SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |         row_number() OVER (PARTITION BY c_nationkey
      |                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      |  FROM customer) t WHERE rn <= 3""".stripMargin

  /** w7: as-of join — each purchase event matched to the same user's
    * most recent click at or before it. Spark has no ASOF JOIN
    * operator; the scalable composition is ONE window pass over the
    * union of both sides: tag rows, sort (time, B-before-A, id)
    * within user, and `last(..., ignoreNulls)` carries the latest B
    * forward — a single shuffle on user_id, no join, no range
    * explosion, the 100 TB shape for temporal alignment. The oracle
    * uses DuckDB's NATIVE ASOF LEFT JOIN (clicks pre-deduped to max
    * event_id per second, the same tie-break the window ordering
    * encodes) — two entirely different algorithms pinning the same
    * semantics.
    */
  def w7AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("tss"))
      .withColumn("is_b", (col("event_type") === "click").cast("int"))
      .withColumn("b_eid", when(col("is_b") === 1, col("event_id")))
    // clicks sort before purchases at the same second (inclusive
    // <=); among same-second clicks the largest event_id lands last
    val w = Window.partitionBy("user_id")
      .orderBy(col("tss"), col("is_b").desc, col("b_eid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("asof_click_id", last(col("b_eid"), ignoreNulls = true).over(w))
      .withColumn("asof_click_ts",
        last(when(col("is_b") === 1, col("tss")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        date_format(col("tss"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("asof_click_id"),
        date_format(col("asof_click_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("asof_click_ts"))
  }

  val w7Sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |         date_trunc('second', ts) AS tss
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |p AS (SELECT event_id AS purchase_id, user_id, tss FROM ev
      |      WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, tss, max(event_id) AS click_id FROM ev
      |      WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.purchase_id, p.user_id,
      |  strftime(p.tss, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  c.click_id AS asof_click_id,
      |  strftime(c.tss, '%Y-%m-%d %H:%M:%S') AS asof_click_ts
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND c.tss <= p.tss""".stripMargin

  /** w10: cohort retention — users grouped by the week of their first
    * event, distinct active users per (cohort week, week offset): the
    * standard retention matrix every event-analytics engine ships.
    * Two keyed aggregations and one equi-join on user_id; the
    * countDistinct shuffles on (cohort, offset, user) then partially
    * aggregates — no window, no driver loop, linear at 100 TB events.
    * Week truncation is Monday-based in both engines (date_trunc
    * 'week'), so cohort labels agree by construction.
    */
  def w10CohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
    val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cwk"))
    ev.join(cohort, "user_id")
      .groupBy(col("cwk").cast("string").as("cohort_week"),
        (datediff(col("wk"), col("cwk")) / 7).cast("long")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  val w10Sql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |c AS (SELECT user_id, min(wk) AS cwk FROM ev GROUP BY 1)
      |SELECT CAST(cwk AS VARCHAR) AS cohort_week,
      |  CAST((ev.wk - c.cwk) / 7 AS BIGINT) AS week_offset,
      |  count(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN c ON ev.user_id = c.user_id
      |GROUP BY 1, 2""".stripMargin

  /** j6: banded range join — every (error, view) event pair within
    * ±2 s of each other, with NO equi key relating the sides (the
    * incident-correlation shape: "what was happening around each
    * error"). A naive range join is an O(N·M) nested loop; the
    * scalable composition BANDS time into width-2s buckets, explodes
    * the view side into its bucket and both neighbors, equi-joins on
    * the bucket id, and applies the |Δ| ≤ 2 s predicate only inside
    * the 3-bucket candidate set — shuffle keys are bucket ids, fan-out
    * is bounded by bucket occupancy (same family as d4b's pigeonhole
    * bands; every qualifying pair shares a band by construction, so
    * recall is exact). The oracle runs DuckDB's plain range join —
    * different algorithm, same pairs.
    */
  def j6BandedRangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .select(col("event_id"), col("event_type"),
        date_trunc("second", col("ts")).as("tss"))
      .withColumn("epoch", unix_timestamp(col("tss")))
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("epoch").as("e_epoch"))
      .withColumn("bucket", floor(col("e_epoch") / 2))
    val view = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("epoch").as("v_epoch"))
      .withColumn("bucket",
        explode(array(floor(col("v_epoch") / 2) - 1,
          floor(col("v_epoch") / 2), floor(col("v_epoch") / 2) + 1)))
    // no distinct needed: an error has ONE bucket and a view's three
    // exploded buckets are distinct, so a qualifying pair meets on
    // exactly one bucket — duplicates are impossible by construction
    err.join(view, Seq("bucket"))
      .filter(abs(col("e_epoch") - col("v_epoch")) <= 2)
      .select(col("error_id"), col("view_id"),
        (col("v_epoch") - col("e_epoch")).as("delta_s"))
  }

  val j6Sql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch
      |  FROM events),
      |err AS (SELECT event_id AS error_id, epoch AS e_epoch FROM ev
      |        WHERE event_type = 'error'),
      |vw AS (SELECT event_id AS view_id, epoch AS v_epoch FROM ev
      |       WHERE event_type = 'view')
      |SELECT error_id, view_id, v_epoch - e_epoch AS delta_s
      |FROM err JOIN vw ON abs(e_epoch - v_epoch) <= 2""".stripMargin

  /** a33: per-chunk exact percentile profile (p50/p90/p99 of the
    * price distribution) — the data-profiling report the assess
    * family reads for value-distribution skew. Percentiles are EXACT
    * ORDER STATISTICS (value at rank ceil(p·n) of the sorted chunk),
    * not interpolated: interpolation formulas differ in final-ulp
    * rounding across engines, order statistics cannot. Prices are
    * quantized to integer cents with explicit half-up (the
    * engine-stable rounding; doubles at rest). Shape: one window sort
    * per chunk + one groupBy — the exact-quantile-per-partition
    * layout; the sketch path for when a full sort is too much is
    * `approx_percentile` (same trade as a9 vs a9b).
    */
  /** Shared (cents, chunk_id) projection for the a33 family — ONE
    * definition of the price quantization and chunking rule, so the
    * exact path and the sketch path can never drift apart.
    */
  private def centsChunks(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "lineitem").select(
      floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
      floor(col("l_orderkey") / 1000).cast("long").as("chunk_id"))

  def a33PercentileProfile(s: SparkSession, d: String): DataFrame = {
    val li = centsChunks(s, d)
    val byChunk = Window.partitionBy("chunk_id")
    val ranked = li
      .withColumn("rn", row_number().over(byChunk.orderBy(col("cents"))))
      .withColumn("n", count(lit(1)).over(byChunk))
    def atP(p: Double): Column =
      max(when(col("rn") === greatest(lit(1L), ceil(col("n") * p)),
        col("cents")))
    ranked.groupBy("chunk_id")
      .agg(atP(0.5).as("p50_cents"), atP(0.9).as("p90_cents"),
        atP(0.99).as("p99_cents"), max(col("n")).as("n_rows"))
  }

  val a33Sql: String = {
    def atP(p: String, name: String) =
      s"max(CASE WHEN rn = greatest(1, CAST(ceil(n * $p) AS BIGINT)) " +
        s"THEN cents END) AS $name"
    s"""WITH li AS (
       |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
       |         CAST(floor(l_orderkey / 1000.0) AS BIGINT) AS chunk_id
       |  FROM lineitem),
       |r AS (
       |  SELECT chunk_id, cents,
       |    row_number() OVER (PARTITION BY chunk_id ORDER BY cents) AS rn,
       |    count(*) OVER (PARTITION BY chunk_id) AS n
       |  FROM li)
       |SELECT chunk_id, ${atP("0.5", "p50_cents")},
       |  ${atP("0.9", "p90_cents")}, ${atP("0.99", "p99_cents")},
       |  max(n) AS n_rows
       |FROM r GROUP BY 1""".stripMargin
  }

  /** a33b: the percentile SCALE path a33's scaladoc names — GK-sketch
    * `percentile_approx` in place of the full per-chunk window sort
    * (one partial-aggregable pass, no sort, the only affordable shape
    * once a chunk stops fitting in one task's sort buffer). Like a9b,
    * the registered result is a sketch-noise-robust DECISION, not the
    * sketch values: per chunk, is the approx p50/p99 within 5% of the
    * exact order statistic? GK guarantees rank error ≤ n/accuracy
    * deterministically (accuracy 10⁴ ≫ chunk rows here), so the
    * within-tolerance count equals the chunk count — which is exactly
    * what the oracle asserts. A sketch regression past the tolerance
    * breaks the hash.
    *
    * Tolerance caveat (documented decision): GK's guarantee is on RANK
    * error, and a rank-ε neighbour's VALUE can differ by >5% on a
    * pathological distribution (adjacent order statistics far apart),
    * so the 5% VALUE gate is data-dependent — it holds on this corpus
    * and pins regressions, but is not distribution-independent. A
    * rank-distance assertion would be; the value gate is kept because
    * it is the form a user of the percentile report actually reads.
    * Relatedly, the DuckDB side re-checks only the chunk count
    * (n_within ≡ n_chunks there): the within-5% evaluation itself is
    * Spark-side — the cross-engine hash fails iff a chunk leaves
    * tolerance, which is the designed trigger.
    */
  def a33bPercentileSketch(s: SparkSession, d: String): DataFrame = {
    val li = centsChunks(s, d)
    val approx = li.groupBy("chunk_id")
      .agg(percentile_approx(col("cents"), array(lit(0.5), lit(0.99)),
        lit(10000)).as("ap"))
    a33PercentileProfile(s, d).join(approx, "chunk_id")
      .select(
        (abs(col("ap")(0) - col("p50_cents")) <=
          col("p50_cents").cast("double") * 0.05 &&
          abs(col("ap")(1) - col("p99_cents")) <=
            col("p99_cents").cast("double") * 0.05).as("within"))
      .agg(count(lit(1)).as("n_chunks"),
        // coalesce: sum over ZERO rows is NULL while the oracle's
        // empty-input count is 0 — same parity class as a36's empty
        // sections
        coalesce(sum(when(col("within"), 1L).otherwise(0L)), lit(0L))
          .as("n_within"))
  }

  val a33bSql: String =
    """SELECT count(DISTINCT CAST(floor(l_orderkey / 1000.0) AS BIGINT))
      |    AS n_chunks,
      |  count(DISTINCT CAST(floor(l_orderkey / 1000.0) AS BIGINT))
      |    AS n_within
      |FROM lineitem""".stripMargin

  /** a34: rollup report — the assess-overview shape with subtotal and
    * grand-total rows (SURVEY §2.4: grouping sets/rollup are absent in
    * the reference's hand-written reports and free in Catalyst). One
    * Expand + one partial-aggregable aggregate: at 100 TB the rollup
    * costs (levels × rows) map-side, never a second scan. NULL group
    * keys are the subtotal markers, identically in both engines.
    */
  def a34RollupReport(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_custs"),
        decStr(sum(col("c_acctbal").cast(DecimalType(12, 2)))
          .cast(DecimalType(38, 2))).as("total_bal"))

  val a34Sql: String =
    """SELECT r_name, n_name, count(*) AS n_custs,
      |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  /** j7: salted skew join — the join-side companion of a16's salted
    * aggregation. A fact stream where one key carries ~80% of rows
    * (here: 80% of lineitem maps to dim_key 0) sends all of that key's
    * rows to ONE reducer under a plain shuffle join — at 100 TB, one
    * straggler task holds the job. The skew-safe shape: replicate the
    * dim row S ways (`explode(sequence(0, S-1))`), give each fact row
    * a uniform salt in [0, S), and join on (key, salt) — the hot key
    * now spreads across S tasks, at the bounded cost of an S× dim
    * replication (dims are small; facts are not). The shuffle-hash
    * hint keeps the demo on the shuffle path the pattern exists for
    * (Catalyst would otherwise broadcast this small dim away). The salt
    * never escapes: it is not a group key, so the result is
    * salt-invariant and the oracle is the plain unsalted join.
    *
    * Salt vs AQE skew-join — the tuning decision, pinned by the
    * RelationalSpec "AQE skew-join" test: AQE's OptimizeSkewedJoin DOES
    * absorb this exact skew unsalted (executed plan shows skew=true,
    * result identical), so at cluster scale the first line is AQE with
    * its defaults — zero code change, runtime-triggered. The explicit
    * salt remains the right tool in three verified cases: (a) the hot
    * key also feeds a same-keyed aggregation — AQE splits only the
    * join, the salt spreads both; (b) skew below the 256 MB partition
    * threshold that still stalls a stage; (c) a hot partition fed by
    * few map tasks — AQE splits at map-output-block granularity, so a
    * single-mapper hot partition cannot be split at all (the spec's
    * first unrepartitioned attempt reproduced this: no skew=true on a
    * one-row-group scan).
    */
  def j7SaltedSkewJoin(s: SparkSession, d: String): DataFrame = {
    val S = 8
    val fact = li(s, d).select(
      when(pmod(col("l_orderkey"), lit(10)) < 8, lit(0L))
        .otherwise(pmod(col("l_orderkey"), lit(25)).cast("long")).as("dim_key"),
      col("l_extendedprice").cast(DecimalType(12, 2)).as("price"),
      // any uniform deterministic salt works — it cancels in the agg
      pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(S)).as("salt"))
    val dim = nat(s, d)
      .select(col("n_nationkey").cast("long").as("dim_key"), col("n_name"))
      .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
    fact.join(dim.hint("shuffle_hash"), Seq("dim_key", "salt"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_rows"),
        decStr(sum(col("price")).cast(DecimalType(38, 2))).as("revenue"))
  }

  val j7Sql: String =
    """WITH fact AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
      |              ELSE l_orderkey % 25 END AS dim_key,
      |         CAST(l_extendedprice AS DECIMAL(12,2)) AS price
      |  FROM lineitem)
      |SELECT n_name, count(*) AS n_rows,
      |  CAST(CAST(sum(price) AS DECIMAL(38,2)) AS VARCHAR) AS revenue
      |FROM fact JOIN nation ON dim_key = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** j8: bloom-filter pre-join reduction (the explicit form of runtime
    * row-level filtering). A selective dim predicate should cut the
    * fact scan BEFORE the fact rows travel to the join — otherwise
    * 100 TB of fact shuffles so that 95% of it can be dropped at the
    * probe. Shape: build ONE bounded bloom filter over the filtered
    * dim keys (`df.stat.bloomFilter`, the public sketch API — Spark's
    * own `spark.sql.optimizer.runtime.bloomFilter.*` injects the same
    * thing automatically into shuffle joins it can see), broadcast it,
    * drop non-matching fact rows at the scan, then make the result
    * EXACT with the real semi join (the bloom admits ~fpp false
    * positives; it may never be the last word). The udf is a bounded
    * bit-array probe over a broadcast value — the one shape where a
    * udf pre-filter beats anything declarative available today.
    */
  def j8BloomPrejoin(s: SparkSession, d: String): DataFrame = {
    val small = cust(s, d)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_nationkey") < 5)
      .select(col("c_custkey"))
    // one planning job over the (already filtered, bounded) dim keys.
    // An EMPTY dim NPEs inside the bloom build/merge (no backing
    // bitmap to read; observed as "array length ... buf is null"
    // during the build itself, and any method on a bitmap-less bloom
    // NPEs the same way — bitSize is probed to pin that down) — and
    // an empty dim also proves no fact row can match, so the NPE IS
    // the emptiness signal and the prefilter degenerates to `false`:
    // same plan shape, zero scan output, no crash. This makes the ONE
    // build job double as the emptiness check (an earlier version ran
    // a separate limit-1 isEmpty job on every invocation — including
    // the common non-empty path — just to guard the NPE;
    // EmptySweepSpec keeps the catch branch exercised).
    // the try covers ONLY the build + bitSize probe: an NPE from any
    // later step (broadcast, udf construction) is a real bug and must
    // surface, not silently degenerate the prefilter to `false`
    val bfOpt =
      try {
        val bf = small.stat.bloomFilter("c_custkey", 1 << 17, 0.01)
        bf.bitSize()
        Some(bf)
      } catch { case _: NullPointerException => None }
    val prefilter: Column = bfOpt match {
      case Some(bf) =>
        val bfB = s.sparkContext.broadcast(bf)
        val mightContain = udf((k: Long) => bfB.value.mightContain(k))
        mightContain(col("o_custkey"))
      case None => lit(false)
    }
    ord(s, d).filter(prefilter)
      .join(broadcast(small), col("o_custkey") === col("c_custkey"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        decStr(sum(col("o_totalprice").cast(DecimalType(12, 2)))
          .cast(DecimalType(38, 2))).as("total"))
  }

  val j8Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM customer
      |              WHERE c_custkey = o_custkey
      |                AND c_mktsegment = 'BUILDING' AND c_nationkey < 5)
      |GROUP BY o_orderpriority""".stripMargin

  /** w11: batch sessionization — the gap rule (30 min of user
    * inactivity closes a session) applied to the events log, the
    * batch twin of the streaming `c9_session_window`. Classic
    * two-window composition: `lag` marks session starts, a running
    * `sum` of the start flags numbers sessions, one `groupBy`
    * aggregates them — ALL on the same `user_id` partitioning, so
    * Spark plans exactly ONE shuffle (both window passes and the
    * final partial-aggregable groupBy reuse it). Ordering is
    * (epoch, event_id): event_id is unique, so the frame is total —
    * deterministic under any partitioning. The 100 TB shape for
    * "assemble interaction transcripts per user" in a training-data
    * pipeline.
    */
  def w11Sessionize(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events").select(
      col("user_id"), col("event_id"),
      unix_timestamp(date_trunc("second", col("ts"))).as("epoch"))
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("epoch"), col("event_id"))
    ev.withColumn("prev", lag(col("epoch"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("epoch") - col("prev") > 1800, 1L)
          .otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("epoch")).as("start_epoch"),
        max(col("epoch")).as("end_epoch"))
      .withColumn("duration_s", col("end_epoch") - col("start_epoch"))
  }

  val w11Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, epoch,
      |    CASE WHEN lag(epoch) OVER w IS NULL
      |           OR epoch - lag(epoch) OVER w > 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY epoch, event_id)),
      |g AS (
      |  SELECT user_id, epoch,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id
      |                             ORDER BY epoch, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING
      |                             AND CURRENT ROW) AS BIGINT) AS sess_idx
      |  FROM f)
      |SELECT user_id, sess_idx, count(*) AS n_events,
      |  min(epoch) AS start_epoch, max(epoch) AS end_epoch,
      |  max(epoch) - min(epoch) AS duration_s
      |FROM g GROUP BY 1, 2""".stripMargin

  /** a37: key-skew DISTRIBUTION profile — deepens a35's per-column
    * skew factor (Assess.a35SkewProfile: n_keys/top1/skew per join
    * column) with the shape of the whole count distribution, which
    * is what actually separates "one hot key → salt it like j7"
    * from "fat head → AQE skew-split" from "uniform → leave it":
    * per-key row counts on the events `user_id` domain, reduced to
    * max / exact p50 / exact p99 of the count distribution, the
    * hottest key's share of all rows, and the skew factor (max over
    * mean). Two-level aggregation, both
    * partial-aggregable; the exact percentiles run over the
    * COUNT-HISTOGRAM (distinct count values — in natural long-tail
    * corpora a domain of thousands of entries regardless of corpus
    * size), never over the key relation itself, so the
    * single-partition cumsum window is safe where a global sort of
    * per-key counts would not be. The histogram bound is
    * distributional, not absolute: an adversarial domain where every
    * key has a DISTINCT count makes the histogram O(#keys) again —
    * if that hard bound is ever needed, log-bucket the counts
    * (`floor(log2(c))`) before the window and report bucketed
    * percentiles; here exactness wins because the oracle checks
    * exact p50/p99. Ratios are single double divisions of exact ints.
    */
  def a37SkewProfile(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.load(s, d, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val hist = counts.groupBy(col("c")).agg(count(lit(1)).as("nk"))
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("nk")).over(w))
      .withColumn("n_keys", sum(col("nk")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("n_rows", sum(col("c") * col("nk")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    def atP(p: Double): Column =
      min(when(col("cum") >= ceil(col("n_keys") * p), col("c")))
    cum.groupBy(lit("events.user_id").as("key_domain"))
      .agg(max(col("n_keys")).as("n_keys"),
        max(col("n_rows")).as("n_rows"),
        max(col("c")).as("max_c"),
        atP(0.5).as("p50_c"), atP(0.99).as("p99_c"))
      .withColumn("top1_share",
        col("max_c").cast("double") / col("n_rows"))
      .withColumn("skew_factor",
        (col("max_c") * col("n_keys")).cast("double") / col("n_rows"))
  }

  val a37Sql: String =
    """WITH counts AS (
      |  SELECT user_id, count(*) AS c FROM events GROUP BY 1),
      |hist AS (SELECT c, count(*) AS nk FROM counts GROUP BY 1),
      |cum AS (
      |  SELECT c, nk,
      |    CAST(sum(nk) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
      |                       AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(sum(nk) OVER () AS BIGINT) AS n_keys,
      |    CAST(sum(c * nk) OVER () AS BIGINT) AS n_rows
      |  FROM hist)
      |SELECT 'events.user_id' AS key_domain,
      |  max(n_keys) AS n_keys, max(n_rows) AS n_rows, max(c) AS max_c,
      |  min(CASE WHEN cum >= ceil(n_keys * 0.5) THEN c END) AS p50_c,
      |  min(CASE WHEN cum >= ceil(n_keys * 0.99) THEN c END) AS p99_c,
      |  CAST(max(c) AS DOUBLE) / max(n_rows) AS top1_share,
      |  CAST(max(c) * max(n_keys) AS DOUBLE) / max(n_rows) AS skew_factor
      |FROM cum GROUP BY 1""".stripMargin

  /** a39: Count-Min heavy hitters — completes the sketch trio
    * (a33b GK quantiles, a9b approx-distinct, now FREQUENCY): a
    * D=3 × W=1024 Count-Min sketch over the events key stream,
    * decision-query style like a33b: the output carries the exact
    * top-10 (the truth), each key's sketch estimate (min over the 3
    * hashed cells), the overcount, and the ε-bound check
    * (overcount ≤ 2N/W), so a sketch regression hash-mismatches.
    * CMS never undercounts — the spec asserts overcount ≥ 0
    * unconditionally; the 2N/W bound is probabilistic in general
    * and holds comfortably at every tested scale (documented
    * decision-query trade, a33b's precedent).
    *
    * 100 TB shape: the sketch is D·W integer cells — one
    * partial-aggregable groupBy builds it, cells merge by addition
    * (the CMS property), so executors can sketch partitions
    * independently and reduce, and a streaming deployment keeps it
    * as `mapGroupsWithState` state. The exact top-10 here is the
    * VERIFIER, not the operator; at scale the sketch answers point
    * frequencies without it.
    */
  /** a39/a48 sketch geometry (shared so the streaming arm maintains
    * the SAME cell table the batch sketch builds).
    */
  private[graft] val CmsW = 1024L
  private[graft] val CmsD = 3

  /** The monitored key stream, SKEWED by construction (30% of events
    * rewritten to one hot key — the j7 scenario): a heavy-hitter
    * sketch on a uniform stream answers nothing (every count ≈ N/W
    * noise); on the skewed stream the hot key's estimate is tight
    * (error ≤ 2N/W ≪ its count) while tail keys show the noise
    * floor — CMS's actual behavior, visible in the output. ONE
    * definition whether the events frame is a batch read or a
    * stream (the a43/a46/a47 discipline).
    */
  private[graft] def cmsKeys(ev: DataFrame): DataFrame =
    ev.select(when(pmod(col("event_id"), lit(10L)) < 3, lit("hot"))
      .otherwise(col("user_id").cast("string")).as("key"))

  private def cmsBuckets(key: Column) = array((0 until CmsD).map { r =>
    struct(lit(r).as("r"),
      pmod(Norm.xhash64(concat_ws("|", lit(s"cms$r"), key)), lit(CmsW))
        .as("b"))
  }: _*)

  /** The D×W cell table from a key frame — the map side of the
    * sketch and the mergeable state a streaming deployment keeps
    * (cells merge by ADDITION, the CMS property): one
    * partial-aggregable groupBy, ≤ D·W rows at any scale.
    */
  private[graft] def cmsCellsFrom(keys: DataFrame): DataFrame =
    keys.select(explode(cmsBuckets(col("key"))).as("e"))
      .groupBy(col("e.r").as("r"), col("e.b").as("b"))
      .agg(count(lit(1)).as("c"))

  /** The decision read-off over an already-built cell table: exact
    * top-10 (the VERIFIER, not the operator — a production run
    * drops it), each key's min-over-rows estimate, the overcount,
    * and the ε-bound check. Shared by the batch sketch and the
    * streaming arm so a48 answers to exactly a39's contract.
    */
  private[graft] def cmsTopKFrom(cells: DataFrame, keys: DataFrame)
      : DataFrame = {
    val exact = keys.groupBy("key").agg(count(lit(1)).as("true_c"))
      .orderBy(col("true_c").desc, col("key").asc).limit(10)
    val probes = exact
      .select(col("key"), col("true_c"), explode(cmsBuckets(col("key"))).as("e"))
      .select(col("key"), col("true_c"),
        col("e.r").as("r"), col("e.b").as("b"))
    val est = probes.join(cells, Seq("r", "b"))
      .groupBy("key", "true_c").agg(min(col("c")).as("est_c"))
    val tot = keys.agg(count(lit(1)).as("n_total"))
    est.crossJoin(tot)
      .withColumn("overcount", col("est_c") - col("true_c"))
      .withColumn("within_bound",
        col("overcount") <= expr(s"(2 * n_total) div $CmsW"))
      .select("key", "true_c", "est_c", "overcount", "within_bound")
  }

  def a39HeavyHittersCms(s: SparkSession, d: String): DataFrame = {
    val keys = cmsKeys(Tables.load(s, d, "events"))
    cmsTopKFrom(cmsCellsFrom(keys), keys)
  }

  val a39Sql: String = {
    def bSql(r: Int, keyExpr: String) =
      s"${Norm.xhash64Sql(s"'cms$r|' || $keyExpr")} % $CmsW"
    val rowsSql = (0 until CmsD).map { r =>
      s"SELECT key, $r AS r, ${bSql(r, "key")} AS b FROM ev"
    }.mkString("\nUNION ALL\n")
    val probeSql = (0 until CmsD).map { r =>
      s"SELECT key, true_c, $r AS r, ${bSql(r, "key")} AS b FROM exact"
    }.mkString("\nUNION ALL\n")
    s"""WITH ev AS (
       |  SELECT CASE WHEN event_id % 10 < 3 THEN 'hot'
       |              ELSE CAST(user_id AS VARCHAR) END AS key
       |  FROM events),
       |hashed AS ($rowsSql),
       |cells AS (SELECT r, b, count(*) AS c FROM hashed GROUP BY 1, 2),
       |exact AS (SELECT key, count(*) AS true_c FROM ev
       |          GROUP BY 1 ORDER BY true_c DESC, key ASC LIMIT 10),
       |probes AS ($probeSql),
       |est AS (SELECT key, true_c, min(c) AS est_c FROM probes
       |        JOIN cells USING (r, b) GROUP BY 1, 2),
       |tot AS (SELECT count(*) AS n_total FROM ev)
       |SELECT key, true_c, est_c, est_c - true_c AS overcount,
       |  est_c - true_c <= (2 * n_total) // $CmsW AS within_bound
       |FROM est, tot""".stripMargin
  }

  // ------------------------------------------------------------- registry

  /** a40: snapshot drift gate — the distribution check a 100 TB
    * training-data pipeline runs BEFORE ingesting a new snapshot: has
    * a monitored column's distribution moved against the baseline
    * era? Pearson's chi-square per column over FIXED buckets
    * (numeric: capped fixed-width bins — a33's histogram discipline,
    * never data-derived quantiles, so the bucketing is identical on
    * any engine and any day; categorical: the value itself), with the
    * expected count add-one smoothed over the observed bucket set so
    * a current-only bucket contributes mass instead of dividing by
    * zero.
    *
    * The statistic is integer-exact by the t17/t19 discipline: each
    * bucket's (O−E)²/E term is a short chain of exactly-rounded IEEE
    * ops on exact integer inputs, floored at 10^6 scale to BIGINT,
    * and only BIGINTs are summed — partition-invariant, cross-engine
    * identical, no float accumulation. Baseline/current eras split on
    * a fixed date. One scan, one partial-aggregable groupBy per
    * column family, bucket counts bounded by construction — at 100 TB
    * this is a single pass ending in a ~60-row report.
    */
  def a40DriftGate(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d).withColumn("is_base",
      col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    // monitored columns → bounded bucket expressions
    val monitored = Seq(
      "o_totalprice" -> least(floor(col("o_totalprice") / 25000.0),
        lit(19L)).cast("string"),
      "o_orderpriority" -> col("o_orderpriority"),
      "o_orderstatus" -> col("o_orderstatus"))
    val perCol = monitored.map { case (name, bucket) =>
      o.select(lit(name).as("col_name"), bucket.as("bucket"),
        col("is_base"))
    }.reduce(_ unionAll _)
    val counts = perCol
      .groupBy(col("col_name"), col("bucket"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_cur"))
    driftGateFrom(counts)
  }

  /** The a40 gate arithmetic over an already-bucketed
    * (col_name, bucket, n_base, n_cur) relation — ONE definition the
    * batch gate above and the streaming arm (a43, Cdc.scala) share,
    * so the online monitor can never drift from the batch gate it is
    * hash-checked against. Input is bucket-table sized (bounded by
    * construction), so the windows here are over dozens of rows.
    */
  private[graft] def driftGateFrom(counts: DataFrame): DataFrame = {
    val w = Window.partitionBy("col_name")
    counts
      .withColumn("tot_base", sum(col("n_base")).over(w))
      .withColumn("tot_cur", sum(col("n_cur")).over(w))
      .withColumn("n_buckets", count(lit(1)).over(w))
      // E = tot_cur * (n_base+1) / (tot_base + n_buckets): add-one
      // smoothing over the observed buckets keeps E > 0 everywhere
      .withColumn("e_cur",
        (col("tot_cur") * (col("n_base") + lit(1L))).cast("double") /
          (col("tot_base") + col("n_buckets")).cast("double"))
      .withColumn("term_scaled",
        floor((col("n_cur").cast("double") - col("e_cur")) *
          (col("n_cur").cast("double") - col("e_cur")) / col("e_cur") *
          lit(1000000.0)).cast("long"))
      .groupBy(col("col_name"))
      .agg(max(col("n_buckets")).as("n_buckets"),
        max(col("tot_base")).as("n_base_rows"),
        max(col("tot_cur")).as("n_cur_rows"),
        sum(col("term_scaled")).as("chi2_scaled"))
      // per-column critical value at the column's OWN df (a fixed
      // worst-case df would let a low-cardinality column's genuine
      // shift pass a 2-3x too-lenient gate)
      .withColumn("drifted",
        col("chi2_scaled") > expr(chi2CritCaseSql("n_buckets - 1")))
  }

  /** chi-square critical values at alpha = 0.001 for df 1..19
    * (standard table), at the statistic's 10^6 scale — ONE copy
    * rendered into both dialects. df above the table (an unbounded
    * categorical would be a bucketing bug) clamps to df 19.
    */
  private val Chi2Crit001: Seq[Long] = Seq(
    10828000L, 13816000L, 16266000L, 18467000L, 20515000L,
    22458000L, 24322000L, 26124000L, 27877000L, 29588000L,
    31264000L, 32909000L, 34528000L, 36123000L, 37697000L,
    39252000L, 40790000L, 42312000L, 43820000L)

  /** CASE expression mapping a df expression to its critical value —
    * identical text parses in Spark SQL and DuckDB.
    */
  private def chi2CritCaseSql(df: String): String =
    Chi2Crit001.init.zipWithIndex
      .map { case (v, i) => s"WHEN ($df) = ${i + 1} THEN $v" }
      .mkString("CASE ", " ", s" ELSE ${Chi2Crit001.last} END")

  /** The drift-gate SQL tail over a melt CTE body producing
    * (col_name, bucket, is_base) rows — ONE copy of the
    * counts/chi-square arithmetic shared by a40's orders oracle and
    * a43's events oracle (Cdc.scala), mirroring [[driftGateFrom]] on
    * the Spark side. `meltSql` is spliced in pre-stripped (no margin
    * chars).
    */
  private[graft] def driftGateSql(meltSql: String): String =
    s"""WITH melt AS (
       |$meltSql),
       |counts AS (
       |  SELECT col_name, bucket,
       |    CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_base,
       |    CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT)
       |      AS n_cur
       |  FROM melt GROUP BY 1, 2),
       |terms AS (
       |  SELECT col_name, n_buckets, tot_base, tot_cur,
       |    CAST(floor((CAST(n_cur AS DOUBLE) - e_cur) *
       |      (CAST(n_cur AS DOUBLE) - e_cur) / e_cur * 1000000.0)
       |      AS BIGINT) AS term_scaled
       |  FROM (
       |    SELECT col_name, n_base, n_cur,
       |      sum(n_base) OVER (PARTITION BY col_name) AS tot_base,
       |      sum(n_cur) OVER (PARTITION BY col_name) AS tot_cur,
       |      count(*) OVER (PARTITION BY col_name) AS n_buckets,
       |      CAST(sum(n_cur) OVER (PARTITION BY col_name) * (n_base + 1)
       |          AS DOUBLE) /
       |        CAST(sum(n_base) OVER (PARTITION BY col_name) +
       |          count(*) OVER (PARTITION BY col_name) AS DOUBLE) AS e_cur
       |    FROM counts) t)
       |SELECT col_name,
       |  CAST(max(n_buckets) AS BIGINT) AS n_buckets,
       |  CAST(max(tot_base) AS BIGINT) AS n_base_rows,
       |  CAST(max(tot_cur) AS BIGINT) AS n_cur_rows,
       |  CAST(sum(term_scaled) AS BIGINT) AS chi2_scaled,
       |  CAST(sum(term_scaled) AS BIGINT) >
       |    ${chi2CritCaseSql("max(n_buckets) - 1")} AS drifted
       |FROM terms GROUP BY 1""".stripMargin

  val a40Sql: String = driftGateSql(
    """SELECT 'o_totalprice' AS col_name,
      |    CAST(CAST(least(floor(o_totalprice / 25000.0), 19) AS BIGINT)
      |      AS VARCHAR) AS bucket,
      |    o_orderdate < TIMESTAMP '1996-01-01' AS is_base FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', o_orderpriority,
      |    o_orderdate < TIMESTAMP '1996-01-01' FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', o_orderstatus,
      |    o_orderdate < TIMESTAMP '1996-01-01' FROM orders"""
      .stripMargin)

  /** The schema's FK relationships, one tuple per edge:
    * (label, child table, fk column, parent table, pk column). ONE
    * list rendered into both engines — a41's Spark plan and its
    * oracle SQL walk the same edges by construction.
    */
  private val FkEdges: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
      "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
      "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
      "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
      "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
      "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
      "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
      "region", "r_regionkey"))

  /** a41: data-level referential-integrity audit — the validation
    * k7's own fix artifact tells an o2t user to run by hand ("tidb
    * does not enforce foreign keys — validate"): after a migration,
    * does every child FK value exist in its parent? One row per
    * schema edge with row/key/orphan counts and NULL-FK accounting
    * (a NULL FK is not a violation — SQL FK semantics — but is worth
    * its own column in the report).
    *
    * Scale shape, per edge: aggregate the child to (key, cnt) FIRST
    * — partial-aggregable, and the join input shrinks from rows to
    * distinct keys — then ONE left equi-join against the
    * deduplicated parent key set and one bounded agg. No anti-join +
    * count-back double pass, no single-row crossJoins (the orphan
    * flags ride the same agg). At 100 TB each edge is one shuffle on
    * the key domain; small parents (nation, region) broadcast.
    */
  def a41FkAudit(s: SparkSession, d: String): DataFrame =
    FkEdges.map { case (label, child, fk, parent, pk) =>
      val keyed = Tables.load(s, d, child)
        .groupBy(col(fk).as("k")).agg(count(lit(1)).as("cnt"))
      val parentKeys = Tables.load(s, d, parent)
        .select(col(pk).as("k")).distinct()
        .withColumn("hit", lit(1L))
      keyed.join(parentKeys, Seq("k"), "left")
        .agg(
          coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("k").isNotNull, 1L).otherwise(0L)),
            lit(0L)).as("n_keys"),
          coalesce(sum(when(col("k").isNotNull && col("hit").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_orphan_keys"),
          coalesce(sum(when(col("k").isNotNull && col("hit").isNull,
            col("cnt")).otherwise(0L)), lit(0L)).as("n_orphan_rows"),
          coalesce(sum(when(col("k").isNull, col("cnt")).otherwise(0L)),
            lit(0L)).as("n_null_fk"))
        .select(lit(label).as("relationship"), col("n_rows"),
          col("n_keys"), col("n_orphan_keys"), col("n_orphan_rows"),
          col("n_null_fk"))
    }.reduce(_ unionAll _)
      .withColumn("ok", col("n_orphan_rows") === 0L)

  val a41Sql: String = FkEdges.map { case (label, child, fk, parent, pk) =>
    s"""SELECT '$label' AS relationship,
       |  CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_rows,
       |  CAST(coalesce(sum(CASE WHEN k.k IS NOT NULL THEN 1 ELSE 0 END),
       |    0) AS BIGINT) AS n_keys,
       |  CAST(coalesce(sum(CASE WHEN k.k IS NOT NULL AND p.hit IS NULL
       |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_orphan_keys,
       |  CAST(coalesce(sum(CASE WHEN k.k IS NOT NULL AND p.hit IS NULL
       |    THEN cnt ELSE 0 END), 0) AS BIGINT) AS n_orphan_rows,
       |  CAST(coalesce(sum(CASE WHEN k.k IS NULL THEN cnt ELSE 0 END),
       |    0) AS BIGINT) AS n_null_fk,
       |  CAST(coalesce(sum(CASE WHEN k.k IS NOT NULL AND p.hit IS NULL
       |    THEN cnt ELSE 0 END), 0) AS BIGINT) = 0 AS ok
       |FROM (SELECT $fk AS k, count(*) AS cnt FROM $child GROUP BY 1) k
       |LEFT JOIN (SELECT DISTINCT $pk AS k, 1 AS hit FROM $parent) p
       |  ON k.k = p.k""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** a42: k-anonymity profile — the release gate privacy review runs
    * before a dataset leaves the building: how small do the
    * quasi-identifier equivalence classes get? Rows whose QI tuple
    * (nation, market segment, balance band) is shared by fewer than
    * k=5 customers are re-identifiable by linkage; the report is the
    * class-size histogram (sizes clamped at 20 — past that nobody
    * cares about the exact size) with per-bucket row mass and the
    * violation flag, t10's PII-scrub sibling at the dataset level.
    *
    * Scale shape: one partial-aggregable groupBy on the QI tuple
    * (the class sizes), then a second groupBy on the clamped size —
    * the second input is one row per CLASS, already a reduction, and
    * the output is ≤ 20 rows at any scale. The balance band is a
    * fixed-width bucket (a33's histogram discipline), never a
    * data-derived quantile, so the classes are engine-identical.
    */
  /** a44 register-table geometry: p = 12 → m = 4096 buckets from the
    * low bits of the 60-bit [[Norm.xhash64]]; the remaining 48 bits
    * feed the leading-zero rank, so rho ∈ [1, 49].
    */
  private[graft] val HllM = 4096L
  private val HllW = 48

  /** `alpha_m · m² · 2^49 · 10⁶` PRE-MULTIPLIED into one double
    * literal (rendered once from here into both dialects): the whole
    * estimator is then a single IEEE division by the exact integer
    * register sum + one floor — no per-engine constant arithmetic to
    * drift by an ulp.
    */
  private val HllEstConst: String = {
    val alpha = 0.7213 / (1.0 + 1.079 / HllM.toDouble)
    (alpha * HllM.toDouble * HllM.toDouble *
      math.pow(2.0, HllW + 1.0) * 1e6).toString
  }

  /** a44: HyperLogLog distinct-count sketch — THE way a 100 TB table
    * answers COUNT(DISTINCT) without shuffling the key domain: per
    * partition, each value hashes into one of m=4096 registers
    * keeping max(leading-zero rank); registers merge by max, so the
    * whole sketch is ONE partial-aggregable groupBy ending in a
    * 4096-row table per column. Everything is integer-exact by the
    * d17 discipline: rho from the BINARY DIGIT COUNT of the 48-bit
    * remainder (`bin()`, identical in both engines — no float log2),
    * register mass summed as 2^(49−rho) BIGINTs (≤ 2^61 total, exact,
    * order-invariant; empty registers contribute 2^49 arithmetically
    * — the table never densifies), and ONE division by the
    * pre-multiplied [[HllEstConst]] at the end. Raw HLL only —
    * `in_range` flags where the published small-range correction
    * (linear counting, which needs ln()) would apply; the exact
    * distinct rides along HERE to measure the error, a production
    * run drops it (it is the shuffle the sketch exists to avoid).
    */
  /** Per-value register coordinates: adds (bucket, rho) to a melted
    * (col_name, v) frame — the map side of the sketch, shared by the
    * batch query and the streaming arm (a46) so the two register
    * plans are the same Column algebra and cannot diverge.
    */
  private[graft] def hllRhoCols(melt0: DataFrame): DataFrame = melt0
    .withColumn("h", xhash64(col("v")))
    .withColumn("bucket", pmod(col("h"), lit(HllM)))
    // integer division, NOT Column./ (double division rounds above
    // 2^53 — h is 60-bit)
    .withColumn("w", expr(s"h div ${HllM}L"))
    .withColumn("rho",
      when(col("w") === 0L, lit(HllW + 1))
        .otherwise(lit(HllW + 1) - length(bin(col("w")))).cast("int"))

  /** The estimator over a REGISTER table (col_name, bucket, maxrho)
    * — the merge side of the sketch: register mass summed as exact
    * BIGINTs, one division by the pre-multiplied [[HllEstConst]].
    * The register table is the mergeable state a streaming arm
    * maintains; this is everything downstream of it.
    */
  private[graft] def hllEstimateFrom(regs: DataFrame): DataFrame = regs
    .groupBy(col("col_name"))
    .agg(count(lit(1)).as("n_hit"),
      sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HllW + 1} - maxrho)"))
        .as("sum_hit"))
    .withColumn("sum_scaled",
      col("sum_hit") +
        (lit(HllM) - col("n_hit")) * expr(
          s"shiftleft(CAST(1 AS BIGINT), ${HllW + 1})"))
    .withColumn("est_x1e6",
      floor(lit(HllEstConst).cast("double") /
        col("sum_scaled").cast("double")).cast("long"))
    .withColumn("in_range",
      col("est_x1e6") > lit(5L * HllM * 1000000L / 2L))
    .select(col("col_name"), col("n_hit"), col("sum_scaled"),
      col("est_x1e6"), col("in_range"))

  def a44HllDistinct(s: SparkSession, d: String): DataFrame = {
    val melt = hllRhoCols(Seq(
      ("orders.o_custkey", ord(s, d).select(
        col("o_custkey").cast("string").as("v"))),
      ("lineitem.l_orderkey", li(s, d).select(
        col("l_orderkey").cast("string").as("v"))),
      ("lineitem.l_partkey", li(s, d).select(
        col("l_partkey").cast("string").as("v"))))
      .map { case (name, df) => df.select(lit(name).as("col_name"), col("v")) }
      .reduce(_ unionAll _))
    val regs = melt.groupBy(col("col_name"), col("bucket"))
      .agg(max(col("rho")).as("maxrho"))
    val exact = melt.groupBy(col("col_name"))
      .agg(countDistinct(col("v")).as("exact_distinct"))
    hllEstimateFrom(regs).join(exact, Seq("col_name"))
      .withColumn("err_x1e6",
        floor(abs(col("est_x1e6") - col("exact_distinct") * 1000000L)
          .cast("double") / col("exact_distinct").cast("double"))
          .cast("long"))
      .select(col("col_name"), col("n_hit"), col("sum_scaled"),
        col("exact_distinct"), col("est_x1e6"), col("in_range"),
        col("err_x1e6"))
  }

  /** The sketch's CTE chain from a caller-supplied `melt0(col_name,
    * v)` through the per-column register aggregate `sc(col_name,
    * n_hit, sum_scaled)` — the SQL mirror of [[hllRhoCols]] +
    * [[hllEstimateFrom]]'s register math, shared by a44's batch
    * oracle and a46's streaming-arm oracle so the two replay the
    * SAME sketch.
    */
  private[graft] def hllSketchSqlCtes(melt0: String): String =
    s"""melt0 AS (
       |$melt0),
       |melt AS (
       |  SELECT col_name, v, h, h % $HllM AS bucket, h // $HllM AS w
       |  FROM (SELECT col_name, v, ${Norm.xhash64Sql("v")} AS h
       |        FROM melt0) t),
       |rho AS (
       |  SELECT col_name, bucket,
       |    CASE WHEN w = 0 THEN ${HllW + 1}
       |         ELSE ${HllW + 1} - length(bin(w)) END AS rho
       |  FROM melt),
       |regs AS (
       |  SELECT col_name, bucket, max(rho) AS maxrho
       |  FROM rho GROUP BY 1, 2),
       |agg AS (
       |  SELECT col_name, CAST(count(*) AS BIGINT) AS n_hit,
       |    CAST(sum(CAST(1 AS BIGINT) << (${HllW + 1} - maxrho))
       |      AS BIGINT) AS sum_hit
       |  FROM regs GROUP BY 1),
       |sc AS (
       |  SELECT col_name, n_hit,
       |    sum_hit + ($HllM - n_hit) *
       |      (CAST(1 AS BIGINT) << ${HllW + 1}) AS sum_scaled
       |  FROM agg)""".stripMargin

  /** `est_x1e6` over `sc`, as SQL text (one floor of one division by
    * the shared pre-multiplied constant).
    */
  private[graft] val hllEstSql: String =
    s"CAST(floor($HllEstConst / CAST(sum_scaled AS DOUBLE)) AS BIGINT)"

  /** The `in_range` threshold (5m/2 at 10⁶ scale). */
  private[graft] val hllRangeGate: Long = 5L * HllM * 1000000L / 2L

  val a44Sql: String = {
    def side(name: String, table: String, c: String): String =
      s"  SELECT '$name' AS col_name, CAST($c AS VARCHAR) AS v FROM $table"
    val melt0 = Seq(
      side("orders.o_custkey", "orders", "o_custkey"),
      side("lineitem.l_orderkey", "lineitem", "l_orderkey"),
      side("lineitem.l_partkey", "lineitem", "l_partkey"))
      .mkString("\n  UNION ALL\n")
    s"""WITH ${hllSketchSqlCtes(melt0)},
       |ex AS (
       |  SELECT col_name, CAST(count(DISTINCT v) AS BIGINT)
       |    AS exact_distinct
       |  FROM melt GROUP BY 1)
       |SELECT sc.col_name, n_hit, sum_scaled, exact_distinct,
       |  $hllEstSql AS est_x1e6,
       |  $hllEstSql > $hllRangeGate AS in_range,
       |  CAST(floor(CAST(abs($hllEstSql
       |      - exact_distinct * 1000000) AS DOUBLE) /
       |    CAST(exact_distinct AS DOUBLE)) AS BIGINT) AS err_x1e6
       |FROM sc JOIN ex ON sc.col_name = ex.col_name""".stripMargin
  }

  /** a45 histogram geometry: fixed width 256, buckets capped at 4095
    * (covers values to ~1.05M) — data-INDEPENDENT buckets by the a40
    * rule, so the histogram is one partial-aggregable groupBy and
    * partitions can disagree about nothing.
    */
  private val HQW = 256L
  private val HQCap = 4095L

  /** a45: histogram quantiles — how a 100 TB table answers
    * percentile questions without a global sort: one scan into a
    * FIXED-width bucket histogram (partial-aggregable, ≤4096 rows
    * per column), a cumulative window over the bounded histogram,
    * and the p-th quantile read off as the first bucket whose
    * cumulative count reaches ceil(p·n/100) — the estimate is the
    * bucket's inclusive upper edge, biased high by at most one bucket
    * width (the resolution/width trade a production profile tunes).
    * Integer-exact throughout: counts, ceil via (p·n + 99) div 100,
    * integer edges. The q values ride an explode (never a crossJoin —
    * a 3-row spec × histogram cross is a CartesianProduct, banned).
    * The exact percentile is deliberately NOT computed here (it is
    * the sort this sketch exists to avoid); the spec measures the
    * estimate against an exact sort at test scale.
    */
  /** Fixed-width bucket id for a double value at the given width —
    * the map side of the histogram, shared by a45 and the streaming
    * arm (a47) so both build the same buckets.
    */
  private[graft] def histBucketCol(v: Column, width: Long): Column =
    least(floor(v / lit(width.toDouble)), lit(HQCap)).cast("long")

  /** The quantile read-off over a HISTOGRAM (col_name, bucket, cnt)
    * — the histogram is the mergeable state a streaming arm
    * maintains; this is everything downstream of it (cumulative
    * window over ≤4096 rows, ceil-rank read-off, inclusive upper
    * edge at the given bucket width).
    */
  private[graft] def histQuantilesFrom(hist: DataFrame,
      width: Long): DataFrame = {
    val w = Window.partitionBy("col_name").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = Window.partitionBy("col_name")
    hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n_rows", sum(col("cnt")).over(n))
      .withColumn("q", explode(lit(Array(50, 90, 99))))
      .withColumn("need",
        expr("(CAST(q AS BIGINT) * n_rows + 99) div 100"))
      .filter(col("cum") >= col("need"))
      .groupBy(col("col_name"), col("q"))
      .agg(min(col("bucket")).as("bucket"), max(col("n_rows")).as("n_rows"))
      .withColumn("est_upper", (col("bucket") + 1L) * lit(width))
      .select(col("col_name"), col("q").cast("long").as("q"),
        col("bucket"), col("est_upper"), col("n_rows"))
  }

  def a45HistQuantiles(s: SparkSession, d: String): DataFrame = {
    val melt = Seq(
      ("lineitem.l_extendedprice", li(s, d).select(
        col("l_extendedprice").cast("double").as("v"))),
      ("orders.o_totalprice", ord(s, d).select(
        col("o_totalprice").cast("double").as("v"))))
      .map { case (name, df) =>
        df.select(lit(name).as("col_name"),
          histBucketCol(col("v"), HQW).as("bucket"))
      }.reduce(_ unionAll _)
    histQuantilesFrom(
      melt.groupBy(col("col_name"), col("bucket"))
        .agg(count(lit(1)).as("cnt")),
      HQW)
  }

  /** a45's CTE tail + final select over a caller-supplied
    * `melt(col_name, bucket)` CTE — the SQL mirror of
    * [[histQuantilesFrom]], shared by a45's oracle and a47's
    * streaming-arm oracle. `histBucketSql` renders the matching
    * bucket expression.
    */
  private[graft] def histBucketSql(v: String, width: Long): String =
    s"least(CAST(floor(CAST($v AS DOUBLE) / $width.0) AS BIGINT), $HQCap)"

  private[graft] def histQuantilesSql(meltSql: String,
      width: Long): String =
    s"""WITH melt AS (
       |$meltSql),
       |hist AS (
       |  SELECT col_name, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM melt GROUP BY 1, 2),
       |cum AS (
       |  SELECT col_name, bucket, cnt,
       |    sum(cnt) OVER (PARTITION BY col_name ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(cnt) OVER (PARTITION BY col_name) AS n_rows
       |  FROM hist),
       |qq AS (
       |  SELECT col_name, bucket, cum, n_rows, unnest([50, 90, 99]) AS q
       |  FROM cum)
       |SELECT col_name, CAST(q AS BIGINT) AS q,
       |  CAST(min(bucket) AS BIGINT) AS bucket,
       |  CAST((min(bucket) + 1) * $width AS BIGINT) AS est_upper,
       |  CAST(max(n_rows) AS BIGINT) AS n_rows
       |FROM qq
       |WHERE cum >= (CAST(q AS BIGINT) * n_rows + 99) // 100
       |GROUP BY 1, 2""".stripMargin

  val a45Sql: String = histQuantilesSql(
    s"""  SELECT 'lineitem.l_extendedprice' AS col_name,
       |    ${histBucketSql("l_extendedprice", HQW)} AS bucket
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'orders.o_totalprice',
       |    ${histBucketSql("o_totalprice", HQW)}
       |  FROM orders""".stripMargin, HQW)

  /** a49: ROBUST outlier gate — median/MAD fences, the standard
    * outlier detector that mean/stddev z-scores cannot be at 100 TB
    * (one extreme value drags the mean toward itself; the median and
    * the median-absolute-deviation are breakdown-50% robust). Both
    * medians come from the a45 fixed-width histogram read-off (the
    * SAME `histQuantilesFrom` arithmetic — bucket upper edge, never a
    * data-derived quantile), so the fences are integer-exact and
    * engine-identical; the outlier count is then ONE exact filter
    * pass against the BIGINT fences. The monitored metric is
    * events.value with a deterministic 1% injected heavy tail (×50 on
    * event_id ≡ 0 mod 97 — a39's constructed-regime convention: on
    * the clean uniform metric the detector has nothing to say; on the
    * spiked one the fences must catch the tail, visibly).
    *
    * 100 TB shape: two partial-aggregable histogram passes (bounded
    * bucket tables) + one filter-aggregate pass; a production run
    * fuses the MAD and gate passes once the median is at rest. The
    * per-column median/MAD pairs are a 1-row driver artifact (chunk
    * bounds' class), embedded as plan literals in the gate pass.
    * The base metric carries a natural tail of its own (25 fence
    * crossers vs 11 injected rows at sf0.01) — the injection
    * guarantees the regime exists on any testdata vintage; the gate
    * reports everything that crossed, never just the injection.
    */
  private[graft] val A49Width = 8L
  private val A49Fence = 5L

  private def a49Metric(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events").select(
      (col("value") * when(pmod(col("event_id"), lit(97L)) === 0, 50.0)
        .otherwise(1.0)).as("v"))

  def a49OutlierMad(s: SparkSession, d: String): DataFrame = {
    val metric = a49Metric(s, d)
    def medianOf(vals: DataFrame): Option[Long] = {
      val hist = vals
        .select(lit("m").as("col_name"),
          histBucketCol(col("v"), A49Width).as("bucket"))
        .groupBy("col_name", "bucket").agg(count(lit(1)).as("cnt"))
      histQuantilesFrom(hist, A49Width).filter(col("q") === 50)
        .select("est_upper").collect().headOption.map(_.getLong(0))
    }
    medianOf(metric) match {
      case None => // empty input: no median exists, report no rows
        s.createDataFrame(java.util.Collections.emptyList[
            org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            "col_name STRING, med_est BIGINT, mad_est BIGINT, " +
              "n_rows BIGINT, n_outliers BIGINT, outlier_ppm BIGINT"))
      case Some(med) =>
        val mad = medianOf(metric.select(
          abs(col("v") - lit(med).cast("double")).as("v"))).get
        metric.agg(count(lit(1)).as("n_rows"),
            sum(when(col("v") < lit(med - A49Fence * mad).cast("double") ||
              col("v") > lit(med + A49Fence * mad).cast("double"),
              1L).otherwise(0L)).as("n_outliers"))
          .select(lit("events.value_spiked").as("col_name"),
            lit(med).as("med_est"), lit(mad).as("mad_est"),
            col("n_rows"), col("n_outliers"),
            expr("n_outliers * 1000000 div n_rows").as("outlier_ppm"))
    }
  }

  val a49Sql: String = {
    val vExpr = "value * (CASE WHEN event_id % 97 = 0 THEN 50.0 " +
      "ELSE 1.0 END)"
    // ONE median read-off shape, applied to the metric and to the
    // |v - med| deviations — the SQL mirror of histQuantilesFrom
    // restricted to q = 50
    def medCte(src: String, tag: String) =
      s"""${tag}hist AS (
         |  SELECT ${histBucketSql("v", A49Width)} AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM $src GROUP BY 1),
         |${tag}cum AS (
         |  SELECT bucket,
         |    sum(cnt) OVER (ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(cnt) OVER () AS n_rows
         |  FROM ${tag}hist),
         |$tag AS (
         |  SELECT (min(bucket) + 1) * $A49Width AS est
         |  FROM ${tag}cum WHERE cum >= (50 * n_rows + 99) // 100)"""
        .stripMargin
    s"""WITH src AS (SELECT $vExpr AS v FROM events),
       |${medCte("src", "med")},
       |dev AS (SELECT abs(v - (SELECT est FROM med)) AS v FROM src),
       |${medCte("dev", "mad")}
       |SELECT 'events.value_spiked' AS col_name,
       |  (SELECT est FROM med) AS med_est,
       |  (SELECT est FROM mad) AS mad_est,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN
       |      v < (SELECT est FROM med) - $A49Fence * (SELECT est FROM mad)
       |      OR v > (SELECT est FROM med) + $A49Fence * (SELECT est FROM mad)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  CAST(sum(CASE WHEN
       |      v < (SELECT est FROM med) - $A49Fence * (SELECT est FROM mad)
       |      OR v > (SELECT est FROM med) + $A49Fence * (SELECT est FROM mad)
       |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*) AS outlier_ppm
       |FROM src
       |HAVING count(*) > 0""".stripMargin
  }

  def a42KAnonymity(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("k"))
      .groupBy(least(col("k"), lit(20L)).as("k_bucket"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("k")).as("n_rows"))
      .withColumn("violating", col("k_bucket") < 5L)

  val a42Sql: String =
    """SELECT CAST(least(k, 20) AS BIGINT) AS k_bucket,
      |  count(*) AS n_classes,
      |  CAST(sum(k) AS BIGINT) AS n_rows,
      |  least(k, 20) < 5 AS violating
      |FROM (
      |  SELECT count(*) AS k
      |  FROM customer
      |  GROUP BY c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT)) t
      |GROUP BY 1, 4""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("a40_drift_gate", a40DriftGate, a40Sql),
    Query("a41_fk_audit", a41FkAudit, a41Sql),
    Query("a42_k_anonymity", a42KAnonymity, a42Sql),
    Query("a44_hll_distinct", a44HllDistinct, a44Sql),
    Query("a45_hist_quantiles", a45HistQuantiles, a45Sql),
    Query("a49_outlier_mad", a49OutlierMad, a49Sql),
    Query("q1_pricing_summary", q1PricingSummary, q1Sql),
    Query("q3_shipping_priority", q3ShippingPriority, q3Sql),
    Query("q5_local_supplier_volume", q5LocalSupplierVolume, q5Sql),
    Query("j1_revenue_by_nation", j1RevenueByNation, j1Sql),
    Query("j2_anti_join", j2AntiJoin, j2Sql),
    Query("j3_semi_join", j3SemiJoin, j3Sql),
    Query("a1_chunk_counts", a1ChunkCounts, a1Sql),
    Query("a2_chunk_checksum", a2ChunkChecksum, a2Sql),
    Query("a2c_summary_onepass", a2cSummaryOnePass, a2Sql),
    Query("a3_minmax_guard", a3MinMaxGuard, a3Sql),
    Query("a6_assess_overview", a6AssessOverview, a6Sql),
    Query("a7_topk", a7TopK, a7Sql),
    Query("a8_threshold", a8Threshold, a8Sql),
    Query("a9_split_key_election", a9SplitKeyElection, a9Sql),
    Query("a9b_split_key_approx", a9bSplitKeyApprox, a9bSql),
    Query("a16_salted_agg", a16SaltedAgg, a16Sql),
    Query("p1_export_projection", p1ExportProjection, p1Sql),
    Query("p3_chunk_filter", p3ChunkFilter, p3Sql),
    Query("w5_top_per_group", w5TopPerGroup, w5Sql),
    Query("w6_running_frame", w6RunningFrame, w6Sql),
    Query("w7_asof_join", w7AsofJoin, w7Sql),
    Query("w10_cohort_retention", w10CohortRetention, w10Sql),
    Query("w11_sessionize", w11Sessionize, w11Sql),
    Query("a37_skew_profile", a37SkewProfile, a37Sql),
    Query("a39_heavy_hitters_cms", a39HeavyHittersCms, a39Sql),
    Query("j6_banded_range_join", j6BandedRangeJoin, j6Sql),
    Query("j7_salted_skew_join", j7SaltedSkewJoin, j7Sql),
    Query("j8_bloom_prejoin", j8BloomPrejoin, j8Sql),
    Query("a33_percentile_profile", a33PercentileProfile, a33Sql),
    Query("a33b_percentile_sketch", a33bPercentileSketch, a33bSql),
    Query("a34_rollup_report", a34RollupReport, a34Sql))
}
