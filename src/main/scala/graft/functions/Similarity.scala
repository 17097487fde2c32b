package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Query, Tables}

/** Similarity search over the `embeddings` table (Array[Float], d=64):
  * brute-force cosine top-k as the exact baseline, an IVF-style
  * cell-restricted variant as the scale path, and threshold pair
  * mining.
  *
  * Float elements are cast to double BEFORE any arithmetic so both
  * engines do identical IEEE double ops elementwise; outputs are ranks
  * and ids (never raw cosines), making results robust to sub-ulp
  * accumulation differences.
  *
  * Scale shape: queries/centroids are tiny → broadcast; the corpus
  * side streams once. IVF turns top-k from O(N·Q) into O(N/cells·Q)
  * after one O(N·cells) assignment pass — the standard
  * partition-pruned ANN layout (cell id becomes a partition key at
  * rest, so a query reads one partition).
  */
object Similarity {

  /** corpus with double-cast vector and L2 norm. Registers the native
    * dot_product expression on the session — every similarity query
    * flows through here (directly or via assignedCells), so `dot`
    * below always resolves.
    */
  private def corpus(s: SparkSession, d: String): DataFrame = {
    graft.plans.DotProduct.register(s)
    // array-level cast, not transform(x -> cast): lambda-bearing
    // higher-order expressions are CodegenFallback and knock the WHOLE
    // enclosing projection out of whole-stage codegen; Cast fuses.
    // float→double widening is exact either way. nrm = sqrt(v·v) is
    // the same ascending-index fold the old aggregate(transform) form
    // did — bit-identical, but inside generated code.
    Tables.load(s, d, "embeddings").select(
      col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  private val corpusSql: String =
    """SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
      |    AS nrm
      |FROM embeddings""".stripMargin

  /** Codegen'd native dot product ([[graft.plans.DotProduct]]) — same
    * left-to-right IEEE fold as the previous
    * `aggregate(zip_with(_*_), 0d, _+_)` form, so every oracle hash is
    * unchanged; the higher-order chain evaluated two interpreted
    * lambdas per element and was the similarity family's hot spot.
    */
  private def dot(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))"

  // ------------------------------------------------------------- queries

  /** ann1: brute-force cosine top-10 per query (queries = vec_id ≡ 0
    * mod 100, broadcast). Exact baseline every ANN variant is judged
    * against — and memoized AS A TABLE for exactly that reason:
    * ann3/ann4/ann7/ann8/ann9 each join against this truth relation,
    * and without the memo each recall query re-pays the full O(N·Q)
    * exact scan it exists to avoid. The parquet round-trip
    * ([[Memo.memoizedTable]]) makes the consumers' plans join a
    * plain file scan instead of inheriting the brute-force
    * BroadcastNestedLoopJoin lineage — at 100 TB the truth set is an
    * evaluation artifact computed once and read from storage, and the
    * plan audit now holds every consumer to the no-BNL contract.
    */
  val ann1BruteTopK: (SparkSession, String) => DataFrame =
    Memo.memoizedTable("similarity.ann1Truth")(ann1Uncached)

  private def ann1Uncached(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val q = broadcast(c.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qnrm")).filter(col("qid") % 100 === 0))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    c.join(q, col("vec_id") =!= col("qid"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"))
  }

  val ann1Sql: String =
    s"""WITH c AS ($corpusSql),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM c
       |      WHERE vec_id % 100 = 0),
       |p AS (SELECT qid, vec_id,
       |        ${dotSql("qv", "v")} / (qnrm * nrm) AS cos
       |      FROM q, c WHERE vec_id <> qid)
       |SELECT qid AS query_id, vec_id AS neighbor_id, rank FROM (
       |  SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM p) r WHERE rank <= 10""".stripMargin

  /** ann2: IVF-style cell-restricted search — centroids are the
    * vectors ≡ 0 mod 50 (deterministic stand-in for trained k-means;
    * the plumbing, not the training, is the operator). Each vector is
    * assigned to its max-cosine centroid; queries search only their
    * own cell, top-5.
    */
  /** IVF cell assignment: each vector goes to its max-cosine centroid
    * (centroids = vec_id ≡ 0 mod 50, a deterministic stand-in for
    * trained k-means — the plumbing, not the training, is the
    * operator). One O(N·C) pass with broadcast centroids; the cell id
    * becomes the partition key every cell-restricted op (ann2 search,
    * d5 pair mining) equi-joins on.
    */
  /** Memoized AS A TABLE per (session, input): four independent
    * consumers (ann2, ann3 via ann2, ann5, d5 twice via self-join)
    * otherwise each pay the O(N·C) assignment pass — same sharing
    * pattern as the dedup family's persisted shingle index. The
    * parquet round-trip ([[Memo.memoizedTable]]) is the IVF index at
    * rest: consumers equi-join the cell-keyed table instead of
    * inheriting the centroid-cross lineage, so their plans stay
    * BNL-free under the audit.
    */
  private[graft] val assignedCells: (SparkSession, String) => DataFrame =
    Memo.memoizedTable("similarity.assignedCells")(assignedCellsUncached)

  /** THE broadcast centroid relation (vec_id ≡ 0 mod 50) — one
    * definition shared by the cell assignment and ann6's probe
    * ranking: if the centroid rule ever changes (e.g. trained
    * centroids from ann5), both consumers move together or the
    * "ann2 is the nprobe=1 point" invariant silently breaks.
    */
  private def centroids(s: SparkSession, d: String): DataFrame =
    broadcast(corpus(s, d).select(col("vec_id").as("cid"),
      col("v").as("cv"), col("nrm").as("cnrm"))
      .filter(col("cid") % 50 === 0))

  private def assignedCellsUncached(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val cent = centroids(s, d)
    val assignW = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    c.crossJoin(cent)
      .withColumn("ccos", dot(col("cv"), col("v")) / (col("cnrm") * col("nrm")))
      .withColumn("arank", row_number().over(assignW))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        col("cid").as("cell"))
  }

  private val assignedSqlCte: String =
    s"""cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM c
       |         WHERE vec_id % 50 = 0),
       |assigned AS (
       |  SELECT vec_id, label, v, nrm, cid AS cell FROM (
       |    SELECT c.vec_id, c.label, c.v, c.nrm, cent.cid,
       |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
       |        ${dotSql("cent.cv", "c.v")} / (cent.cnrm * c.nrm) DESC,
       |        cent.cid ASC) AS arank
       |    FROM c, cent) a WHERE arank = 1)""".stripMargin

  def ann2IvfTopK(s: SparkSession, d: String): DataFrame = {
    val assigned = assignedCells(s, d)
    val q = assigned.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cell"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    assigned.join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"))
  }

  val ann2Sql: String =
    s"""WITH c AS ($corpusSql),
       |$assignedSqlCte,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cell
       |      FROM assigned WHERE vec_id % 100 = 0)
       |SELECT qid AS query_id, vec_id AS neighbor_id, rank FROM (
       |  SELECT q.qid, a.vec_id,
       |    row_number() OVER (PARTITION BY q.qid ORDER BY
       |      ${dotSql("q.qv", "a.v")} / (q.qnrm * a.nrm) DESC,
       |      a.vec_id ASC) AS rank
       |  FROM q JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.qid
       |) r WHERE rank <= 5""".stripMargin

  /** d5: embedding near-dup pairs — cosine above threshold, restricted
    * to pairs sharing an IVF cell (the standard blocked near-dup
    * layout; near-dup vectors land in the same cell with high
    * probability). The oracle applies the identical cell restriction.
    *
    * Round 1 shipped this as `broadcast(corpus)` + a non-equi (`<`)
    * self-join — a BroadcastNestedLoopJoin over ALL N² pairs that was
    * 27% of total bench time and OOMs the executors at 100 TB the
    * moment the corpus outgrows the broadcast limit. The cell
    * restriction turns it into an equi-join on `cell`: fan-out is
    * bounded per cell, shuffles hash-partition on the cell id, and at
    * rest the cell id is a partition column so each task reads one
    * cell.
    */
  def d5CosinePairsBanded(s: SparkSession, d: String): DataFrame = {
    val a = assignedCells(s, d)
    a.as("x").join(a.as("y"), Seq("cell"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos",
        dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")))
      .filter(col("cos") > 0.3)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
  }

  val d5Sql: String =
    s"""WITH c AS ($corpusSql),
       |$assignedSqlCte
       |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
       |FROM assigned x JOIN assigned y
       |  ON x.cell = y.cell AND x.vec_id < y.vec_id
       |WHERE ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm) > 0.3""".stripMargin

  /** ann3: recall@5 of the IVF search against the exact baseline —
    * the evaluation loop every ANN deployment runs: ann1 (exact,
    * rank ≤ 5) is ground truth, hits are ann2 results present in it.
    * Both engines recompute both pipelines and the join, so the
    * recall arithmetic itself is oracle-checked.
    */
  def ann3Recall(s: SparkSession, d: String): DataFrame = {
    val truth = ann1BruteTopK(s, d).filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"))
    val got = ann2IvfTopK(s, d).select(col("query_id"), col("neighbor_id"))
    // one agg over a hit-marked left join (got is distinct per pair by
    // rank construction, so no fan-out): n_expected and n_hits come
    // out of the SAME pass — no 1-row crossJoin, no BNL in the plan
    truth.join(got.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left_outer")
      .agg(count(lit(1)).as("n_expected"), count(col("hit")).as("n_hits"))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_expected"))
  }

  val ann3Sql: String =
    s"""WITH truth AS (
       |  SELECT query_id, neighbor_id FROM ($ann1Sql) a WHERE rank <= 5),
       |got AS (SELECT query_id, neighbor_id FROM ($ann2Sql) b),
       |hits AS (SELECT * FROM truth WHERE EXISTS (
       |  SELECT 1 FROM got WHERE got.query_id = truth.query_id
       |    AND got.neighbor_id = truth.neighbor_id))
       |SELECT (SELECT count(*) FROM truth) AS n_expected,
       |       (SELECT count(*) FROM hits) AS n_hits,
       |       CAST((SELECT count(*) FROM hits) AS DOUBLE) /
       |         (SELECT count(*) FROM truth) AS recall""".stripMargin

  /** ann6: IVF probe-width sweep — recall@5 at nprobe ∈ {1, 2, 4}
    * against the ann1 exact baseline, in ONE query: the tuning curve
    * every IVF deployment reads before fixing its probe width (ann2
    * is the nprobe=1 point; widening probes buys recall linearly in
    * scanned cells). Each query ranks the centroids once (crank ≤ 4,
    * broadcast centroids), every sweep point filters that ranking —
    * the candidate join stays an equi-join on the cell id, and a
    * vector belongs to exactly one cell, so no candidate duplicates.
    */
  def ann6ProbeSweep(s: SparkSession, d: String): DataFrame = {
    val assigned = assignedCells(s, d)
    val cent = centroids(s, d)
    val q = assigned.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val crankW = Window.partitionBy("qid")
      .orderBy(col("ccos").desc, col("cid").asc)
    val qcells = q.crossJoin(cent)
      .withColumn("ccos",
        dot(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
      .withColumn("crank", row_number().over(crankW))
      .filter(col("crank") <= 4)
      .select(col("qid"), col("qv"), col("qnrm"),
        col("cid").as("cell"), col("crank"))
    val truth = ann1BruteTopK(s, d).filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"))
    Seq(1, 2, 4).map { np =>
      val w = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id").asc)
      val got = assigned.join(qcells.filter(col("crank") <= np), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos",
          dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
      val hits = truth.join(got, Seq("query_id", "neighbor_id"), "left_semi")
      truth.agg(count(lit(1)).as("n_expected")).crossJoin(
        hits.agg(count(lit(1)).as("n_hits")))
        .select(lit(np).as("nprobe"), col("n_expected"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_expected")).as("recall"))
    }.reduce(_.unionAll(_))
  }

  val ann6Sql: String = {
    // one g/h CTE pair per sweep point (ann3's hits pattern): the
    // ranked-candidate subquery exists ONCE per nprobe — n_hits and
    // recall read the same CTE, so they cannot silently disagree
    val perNp = Seq(1, 2, 4).map { np =>
      s"""g$np AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qc.qid, a.vec_id,
         |      row_number() OVER (PARTITION BY qc.qid ORDER BY
         |        ${dotSql("qc.qv", "a.v")} / (qc.qnrm * a.nrm) DESC,
         |        a.vec_id ASC) AS rank
         |    FROM qc JOIN assigned a
         |      ON a.cell = qc.cell AND a.vec_id <> qc.qid
         |    WHERE qc.crank <= $np) r
         |  WHERE rank <= 5),
         |h$np AS (
         |  SELECT count(*) AS n FROM truth WHERE EXISTS (
         |    SELECT 1 FROM g$np WHERE g$np.qid = truth.query_id
         |      AND g$np.vec_id = truth.neighbor_id))""".stripMargin
    }.mkString(",\n")
    val branches = Seq(1, 2, 4).map { np =>
      s"""SELECT $np AS nprobe,
         |  (SELECT count(*) FROM truth) AS n_expected,
         |  (SELECT n FROM h$np) AS n_hits,
         |  CAST((SELECT n FROM h$np) AS DOUBLE) /
         |    (SELECT count(*) FROM truth) AS recall""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH c AS ($corpusSql),
       |$assignedSqlCte,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM assigned
       |      WHERE vec_id % 100 = 0),
       |qc AS (
       |  SELECT qid, qv, qnrm, cid AS cell, crank FROM (
       |    SELECT q.qid, q.qv, q.qnrm, cent.cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ${dotSql("cent.cv", "q.qv")} / (cent.cnrm * q.qnrm) DESC,
       |        cent.cid ASC) AS crank
       |    FROM q, cent) t WHERE crank <= 4),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM ($ann1Sql) a WHERE rank <= 5),
       |$perNp
       |$branches""".stripMargin
  }

  /** Symmetric int8 per-vector quantization: scale = max|x|/127,
    * q = halfUpRound(x/scale) ∈ [-127,127], dequantized back as
    * q·scale. The 100 TB IO story: an int8 corpus is 4× smaller at
    * rest and in shuffle than float32, and search runs on the
    * dequantized values. Rounding is an EXPLICIT half-up
    * (sign·floor(|x|+0.5)) because engine round() semantics differ on
    * ties; all arithmetic is elementwise double, identical on both
    * sides.
    */
  private def quantizedCorpus(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    c.withColumn("scale", greatest(
        aggregate(transform(col("v"), x => abs(x)), lit(0.0),
          (a, x) => when(x > a, x).otherwise(a)) / lit(127.0),
        lit(1e-30)))
      .withColumn("dv", transform(col("v"), x =>
        signum(x) * floor(abs(x / col("scale")) + lit(0.5)) * col("scale")))
      .withColumn("dnrm", sqrt(aggregate(
        transform(col("dv"), x => x * x), lit(0.0), (a, x) => a + x)))
      .select(col("vec_id"), col("dv"), col("dnrm"))
  }

  private val quantizedSql: String =
    s"""qc AS (
       |  SELECT vec_id,
       |    list_transform(v, x ->
       |      CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END *
       |      floor(abs(x / scale) + 0.5) * scale) AS dv
       |  FROM (SELECT vec_id, v,
       |          greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
       |                   1e-30) AS scale
       |        FROM c) sc),
       |qcn AS (
       |  SELECT vec_id, dv,
       |    sqrt(list_sum(list_transform(dv, x -> x * x))) AS dnrm
       |  FROM qc)""".stripMargin

  /** ann4: recall of int8-quantized search vs the exact top-10 —
    * full-precision queries against the dequantized corpus, the
    * standard quantized-retrieval evaluation. One row:
    * (n_expected, n_hits, recall).
    */
  def ann4QuantizedRecall(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val q = broadcast(c.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qnrm")).filter(col("qid") % 100 === 0))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val got = quantizedCorpus(s, d).join(q, col("vec_id") =!= col("qid"))
      .withColumn("cos",
        dot(col("qv"), col("dv")) / (col("qnrm") * col("dnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
    val truth = ann1BruteTopK(s, d)
      .select(col("query_id"), col("neighbor_id"))
    val hits = truth.join(got, Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(count(lit(1)).as("n_expected")).crossJoin(
      hits.agg(count(lit(1)).as("n_hits")))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_expected"))
  }

  /** ann14: dimension-truncation recall sweep — retrieval over only
    * the FIRST k of 64 dimensions (k = 16, 32) against the full-dim
    * exact top-10, the Matryoshka-representation-learning serving
    * evaluation: an MRL-trained embedding front-loads information so
    * a prefix is a usable cheap representation, and a production
    * deployment searches the k-dim prefix (4× less memory bandwidth
    * and index footprint at k=16) then re-ranks full-dim (ann7's
    * stage-2). One row per k: (dims, n_expected, n_hits, recall) —
    * the recall/dims trade a deployment reads before picking its
    * prefix (ann6's sweep convention). These synthetic embeddings are
    * NOT MRL-trained, so the sweep shows the honest untrained
    * baseline: recall climbs with k toward 1, from a low floor.
    *
    * 100 TB shape: ann4's — queries broadcast against a corpus scan
    * (the whitelisted bounded BNL), truncated norms computed on the
    * fly; at scale the k-dim prefix lives in its own materialized
    * index (a quarter the bytes of the full corpus) and the scan is
    * the IVF-bucketed variant (ann2) over that index.
    */
  def ann14MrlRecall(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val truth = ann1BruteTopK(s, d)
      .select(col("query_id"), col("neighbor_id"))
    Ann14Dims.map { k =>
      val tc = c.select(col("vec_id"), slice(col("v"), 1, k).as("tv"))
        .withColumn("tnrm", sqrt(dot(col("tv"), col("tv"))))
      val q = broadcast(tc.select(col("vec_id").as("qid"),
        col("tv").as("qv"), col("tnrm").as("qnrm"))
        .filter(col("qid") % 100 === 0))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id").asc)
      val got = tc.join(q, col("vec_id") =!= col("qid"))
        .withColumn("cos",
          dot(col("qv"), col("tv")) / (col("qnrm") * col("tnrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
      val hits = truth.join(got, Seq("query_id", "neighbor_id"), "left_semi")
      truth.agg(count(lit(1)).as("n_expected")).crossJoin(
        hits.agg(count(lit(1)).as("n_hits")))
        .select(lit(k.toLong).as("dims"), col("n_expected"),
          col("n_hits"),
          (col("n_hits").cast("double") / col("n_expected")).as("recall"))
    }.reduce(_ unionAll _)
  }

  /** The swept prefix lengths (of the 64-dim corpus). */
  private val Ann14Dims = Seq(16, 32)

  val ann14Sql: String = {
    // prefix dot/norm by INDEXING the first k elements (no slice
    // node needed) — the same ascending left fold as dotSql, so the
    // doubles are bit-identical to Spark's slice+dot_product
    def tdot(a: String, b: String, k: Int) =
      s"list_sum(list_transform(range(1, ${k + 1}), i -> $a[i] * $b[i]))"
    val arms = Ann14Dims.map { k =>
      s"""got$k AS (
         |  SELECT qid AS query_id, vec_id AS neighbor_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY
         |        ${tdot("qv", "v", k)} /
         |          (sqrt(${tdot("qv", "qv", k)}) *
         |           sqrt(${tdot("v", "v", k)})) DESC,
         |        vec_id ASC) AS rank
         |    FROM q, c WHERE vec_id <> qid) r WHERE rank <= 10),
         |hits$k AS (SELECT * FROM truth WHERE EXISTS (
         |  SELECT 1 FROM got$k WHERE got$k.query_id = truth.query_id
         |    AND got$k.neighbor_id = truth.neighbor_id))""".stripMargin
    }
    val rows = Ann14Dims.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS dims,
         |  (SELECT count(*) FROM truth) AS n_expected,
         |  (SELECT count(*) FROM hits$k) AS n_hits,
         |  CAST((SELECT count(*) FROM hits$k) AS DOUBLE) /
         |    (SELECT count(*) FROM truth) AS recall""".stripMargin
    }
    s"""WITH c AS ($corpusSql),
       |q AS (SELECT vec_id AS qid, v AS qv FROM c
       |      WHERE vec_id % 100 = 0),
       |truth AS (SELECT query_id, neighbor_id FROM ($ann1Sql) a),
       |${arms.mkString(",\n")}
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  val ann4Sql: String =
    s"""WITH c AS ($corpusSql),
       |$quantizedSql,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM c
       |      WHERE vec_id % 100 = 0),
       |got AS (
       |  SELECT qid AS query_id, vec_id AS neighbor_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY
       |        ${dotSql("qv", "dv")} / (qnrm * dnrm) DESC,
       |        vec_id ASC) AS rank
       |    FROM q, qcn WHERE vec_id <> qid) r WHERE rank <= 10),
       |truth AS (SELECT query_id, neighbor_id FROM ($ann1Sql) a),
       |hits AS (SELECT * FROM truth WHERE EXISTS (
       |  SELECT 1 FROM got WHERE got.query_id = truth.query_id
       |    AND got.neighbor_id = truth.neighbor_id))
       |SELECT (SELECT count(*) FROM truth) AS n_expected,
       |       (SELECT count(*) FROM hits) AS n_hits,
       |       CAST((SELECT count(*) FROM hits) AS DOUBLE) /
       |         (SELECT count(*) FROM truth) AS recall""".stripMargin

  /** ann7: two-stage refine — the production serving shape every
    * quantized ANN deployment runs: stage 1 over-fetches top-30
    * candidates per query with CHEAP distances (int8-dequantized
    * corpus, ann4's convention); stage 2 re-ranks ONLY those
    * candidates with full-precision vectors and keeps top-10. One
    * row comparing coarse vs refined recall against ann1's exact
    * truth — the refine's whole point is recovering the recall
    * quantization loses while touching full vectors for 30 ids per
    * query instead of the corpus.
    *
    * Stage 1 quantizes to int4 (max-abs scale / 7), NOT ann4's int8:
    * at this corpus int8 retrieval is already exact in top-10
    * (ann4's recall row shows it), and a refine whose coarse stage
    * loses nothing demonstrates nothing. int4 is the memory-bound
    * regime a 100 TB vector store actually over-fetches from, and
    * its loss is visible: coarse recall < 1, refined recovers it.
    *
    * Scale shape: stage 1 is ann4's broadcast-query scan; the
    * candidate relation that crosses stages is (qid, vec_id, rank) —
    * ids only, NO vector payloads on the shuffle (the d7 rule);
    * stage 2 equi-joins candidates to the corpus by vec_id (|Q|×30
    * rows against the table — at 100 TB a shuffled hash join keyed
    * exactly how a vector store shards) and re-attaches the
    * broadcast query vectors. Ranking ties break on vec_id in both
    * engines; recall is one exact-int division.
    */
  def ann7RefineRecall(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val int4 = c.withColumn("scale", greatest(
        aggregate(transform(col("v"), x => abs(x)), lit(0.0),
          (a, x) => when(x > a, x).otherwise(a)) / lit(7.0),
        lit(1e-30)))
      .withColumn("dv", transform(col("v"), x =>
        signum(x) * floor(abs(x / col("scale")) + lit(0.5)) * col("scale")))
      .withColumn("dnrm", sqrt(aggregate(
        transform(col("dv"), x => x * x), lit(0.0), (a, x) => a + x)))
      .select(col("vec_id"), col("dv"), col("dnrm"))
    val q = broadcast(c.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qnrm")).filter(col("qid") % 100 === 0))
    val cw = Window.partitionBy("qid")
      .orderBy(col("qcos").desc, col("vec_id").asc)
    val cand = int4.join(q, col("vec_id") =!= col("qid"))
      .withColumn("qcos",
        dot(col("qv"), col("dv")) / (col("qnrm") * col("dnrm")))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= 30)
      .select(col("qid"), col("vec_id"), col("crank"))
    val coarse = cand.filter(col("crank") <= 10)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
    val rw = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val refined = cand.join(c, "vec_id")
      .join(q, "qid")
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= 10)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
    val truth = ann1BruteTopK(s, d).select(col("query_id"), col("neighbor_id"))
    val hitsC = truth.join(coarse, Seq("query_id", "neighbor_id"), "left_semi")
    val hitsR = truth.join(refined, Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(count(lit(1)).as("n_expected"))
      .crossJoin(hitsC.agg(count(lit(1)).as("n_hits_coarse")))
      .crossJoin(hitsR.agg(count(lit(1)).as("n_hits_refined")))
      .withColumn("recall_coarse",
        col("n_hits_coarse").cast("double") / col("n_expected"))
      .withColumn("recall_refined",
        col("n_hits_refined").cast("double") / col("n_expected"))
  }

  val ann7Sql: String =
    s"""WITH c AS ($corpusSql),
       |q4 AS (
       |  SELECT vec_id,
       |    list_transform(v, x ->
       |      CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END *
       |      floor(abs(x / scale) + 0.5) * scale) AS dv
       |  FROM (SELECT vec_id, v,
       |          greatest(list_max(list_transform(v, x -> abs(x))) / 7.0,
       |                   1e-30) AS scale
       |        FROM c) sc),
       |qcn AS (
       |  SELECT vec_id, dv,
       |    sqrt(list_sum(list_transform(dv, x -> x * x))) AS dnrm
       |  FROM q4),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM c
       |      WHERE vec_id % 100 = 0),
       |cand AS (
       |  SELECT qid, vec_id, crank FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY
       |        ${dotSql("qv", "dv")} / (qnrm * dnrm) DESC,
       |        vec_id ASC) AS crank
       |    FROM q, qcn WHERE vec_id <> qid) r WHERE crank <= 30),
       |coarse AS (SELECT qid AS query_id, vec_id AS neighbor_id
       |           FROM cand WHERE crank <= 10),
       |refined AS (
       |  SELECT qid AS query_id, vec_id AS neighbor_id FROM (
       |    SELECT cd.qid, cd.vec_id,
       |      row_number() OVER (PARTITION BY cd.qid ORDER BY
       |        ${dotSql("q.qv", "c.v")} / (q.qnrm * c.nrm) DESC,
       |        cd.vec_id ASC) AS rank
       |    FROM cand cd JOIN c ON c.vec_id = cd.vec_id
       |                 JOIN q ON q.qid = cd.qid) r
       |  WHERE rank <= 10),
       |truth AS (SELECT query_id, neighbor_id FROM ($ann1Sql) a),
       |hc AS (SELECT * FROM truth t WHERE EXISTS (
       |  SELECT 1 FROM coarse g WHERE g.query_id = t.query_id
       |    AND g.neighbor_id = t.neighbor_id)),
       |hr AS (SELECT * FROM truth t WHERE EXISTS (
       |  SELECT 1 FROM refined g WHERE g.query_id = t.query_id
       |    AND g.neighbor_id = t.neighbor_id))
       |SELECT (SELECT count(*) FROM truth) AS n_expected,
       |  (SELECT count(*) FROM hc) AS n_hits_coarse,
       |  (SELECT count(*) FROM hr) AS n_hits_refined,
       |  CAST((SELECT count(*) FROM hc) AS DOUBLE) /
       |    (SELECT count(*) FROM truth) AS recall_coarse,
       |  CAST((SELECT count(*) FROM hr) AS DOUBLE) /
       |    (SELECT count(*) FROM truth) AS recall_refined""".stripMargin

  /** ann5: one Lloyd iteration of k-means — the training step that
    * produces real IVF centroids (ann2/d5 use a deterministic seed
    * set; this is how the seed set converges). Assignment reuses
    * [[assignedCells]] (broadcast centroids, one corpus pass); the
    * update step is a per-cell component-wise mean, i.e. ONE
    * map-side-combinable groupBy — the shape that scales: k-means on
    * 100 TB is exactly `iterate(assign ∘ reduceByKey(mean))` with
    * nothing but broadcasts and one shuffle per iteration.
    *
    * Arithmetic is made engine-exact: components are quantized to
    * integers (half-up at 1e-6, the quantizedCorpus convention) and
    * position-weighted BEFORE summing, so the per-cell reduction is
    * an integer sum (order-independent); the reported mean fingerprint
    * divides two exact integers. No float accumulation order can
    * diverge between Spark and DuckDB.
    */
  def ann5KmeansIter(s: SparkSession, d: String): DataFrame = {
    val a = assignedCells(s, d)
    val wsum = aggregate(
      zip_with(col("v"), sequence(lit(1), size(col("v"))), (x, j) =>
        (signum(x) * floor(abs(x) * lit(1e6) + lit(0.5))).cast("long") *
          j.cast("long")),
      lit(0L), (acc, x) => acc + x)
    a.withColumn("wsum", wsum)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("wsum")).as("s"))
      .select(col("cell"), col("n_members"),
        (col("s").cast("double") / col("n_members")).as("mean_fp"))
  }

  val ann5Sql: String =
    s"""WITH c AS ($corpusSql),
       |$assignedSqlCte,
       |w AS (
       |  SELECT cell,
       |    CAST(list_sum(list_transform(range(1, len(v) + 1), i ->
       |      CAST(CASE WHEN v[i] > 0 THEN 1 WHEN v[i] < 0 THEN -1 ELSE 0 END
       |           * floor(abs(v[i]) * 1e6 + 0.5) AS BIGINT) * i))
       |      AS BIGINT) AS wsum
       |  FROM assigned)
       |SELECT cell, count(*) AS n_members,
       |  CAST(CAST(sum(wsum) AS BIGINT) AS DOUBLE) / count(*) AS mean_fp
       |FROM w GROUP BY cell""".stripMargin

  /** ann13: index-staleness gate — the decision query an IVF serving
    * deployment runs periodically: after data has shifted under the
    * index, would retraining MOVE enough vectors to justify a
    * re-index? One Lloyd update (ann5's training step, here carried
    * through to full updated centroid VECTORS, not just the
    * fingerprint) produces the "what retraining would do" centroids;
    * every vector is re-assigned against them and the gate reports
    * the moved fraction with a 5% threshold — the same
    * decision-query style as a33b/a40 (exact counts + boolean
    * verdict in one bounded row).
    *
    * Scale shape: the update step is posexplode → ONE
    * partial-aggregable (cell, dim) integer-sum groupBy (components
    * quantized to 1e-6 ints first — ann5's engine-exactness
    * discipline: integer sums are order-invariant, and the /n mean
    * plus the cosine chain after it are exactly-rounded IEEE ops on
    * exact inputs, so no accumulation order can diverge
    * cross-engine). Re-assignment broadcasts the C updated centroids
    * (C = cells, tiny) against the corpus — the same O(N·C)
    * broadcast shape as [[assignedCells]], one pass, no shuffle of
    * the vectors. Output is one row whatever N is.
    */
  def ann13ReindexGate(s: SparkSession, d: String): DataFrame = {
    val a = assignedCells(s, d)
    // quantized components, position-exploded: (cell, pos, q)
    val q = a.select(col("cell"), posexplode(transform(col("v"), x =>
      (signum(x) * floor(abs(x) * lit(1e6) + lit(0.5))).cast("long"))))
      .toDF("cell", "pos", "q")
    val cellN = a.groupBy("cell").agg(count(lit(1)).as("n_members"))
    val upd = q.groupBy(col("cell"), col("pos"))
      .agg(sum(col("q")).as("sq"))
      .join(broadcast(cellN), "cell")
      .groupBy(col("cell"), col("n_members"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sq")))).as("ps"))
      .select(col("cell").as("ucid"),
        transform(col("ps"), p =>
          p("sq").cast("double") / col("n_members").cast("double")).as("uv"))
      .withColumn("unrm", sqrt(dot(col("uv"), col("uv"))))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("ucos").desc, col("ucid").asc)
    val best = a.select(col("vec_id"), col("cell"), col("v"), col("nrm"))
      .crossJoin(broadcast(upd))
      .withColumn("ucos",
        dot(col("uv"), col("v")) / (col("unrm") * col("nrm")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
    best.agg(count(lit(1)).as("n_vectors"),
        sum(when(col("ucid") =!= col("cell"), 1L).otherwise(0L))
          .as("n_moved"))
      .crossJoin(broadcast(upd.agg(count(lit(1)).as("n_cells"))))
      .withColumn("moved_x1e6",
        floor(col("n_moved").cast("double") * 1000000.0 /
          col("n_vectors").cast("double")).cast("long"))
      .withColumn("reindex", col("moved_x1e6") > 50000L)
      .select("n_vectors", "n_cells", "n_moved", "moved_x1e6", "reindex")
  }

  val ann13Sql: String =
    s"""WITH c AS ($corpusSql),
       |$assignedSqlCte,
       |q AS (SELECT cell, v,
       |        unnest(range(1, len(v) + 1)) AS pos FROM assigned),
       |sums AS (
       |  SELECT cell, pos,
       |    CAST(sum(CAST(CASE WHEN v[pos] > 0 THEN 1
       |                       WHEN v[pos] < 0 THEN -1 ELSE 0 END
       |        * floor(abs(v[pos]) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sq
       |  FROM q GROUP BY 1, 2),
       |cn AS (SELECT cell, count(*) AS n_members FROM assigned GROUP BY 1),
       |upd AS (
       |  SELECT s.cell AS ucid,
       |    list(CAST(sq AS DOUBLE) / CAST(n_members AS DOUBLE)
       |         ORDER BY pos) AS uv
       |  FROM sums s JOIN cn ON cn.cell = s.cell
       |  GROUP BY s.cell, n_members),
       |upd2 AS (SELECT ucid, uv,
       |    sqrt(${dotSql("uv", "uv")}) AS unrm FROM upd),
       |re AS (
       |  SELECT a.vec_id, a.cell, u.ucid,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      ${dotSql("u.uv", "a.v")} / (u.unrm * a.nrm) DESC,
       |      u.ucid ASC) AS r
       |  FROM assigned a, upd2 u),
       |best AS (SELECT vec_id, cell, ucid FROM re WHERE r = 1)
       |SELECT count(*) AS n_vectors,
       |  (SELECT count(*) FROM upd2) AS n_cells,
       |  CAST(sum(CASE WHEN ucid <> cell THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_moved,
       |  CAST(floor(CAST(sum(CASE WHEN ucid <> cell THEN 1 ELSE 0 END)
       |      AS DOUBLE) * 1000000.0 / CAST(count(*) AS DOUBLE)) AS BIGINT)
       |    AS moved_x1e6,
       |  CAST(floor(CAST(sum(CASE WHEN ucid <> cell THEN 1 ELSE 0 END)
       |      AS DOUBLE) * 1000000.0 / CAST(count(*) AS DOUBLE)) AS BIGINT)
       |    > 50000 AS reindex
       |FROM best""".stripMargin

  // ------------------------------------------------------------- registry

  /** Deterministic ±1 "random" hyperplanes (P=32 planes over d=64)
    * from md5 parity of "rph|plane|dim" — generated once at
    * query-BUILD time and embedded as literals in both the Spark plan
    * and the oracle SQL, so cross-engine parity is by construction.
    * Multiplying by exactly ±1.0 is IEEE-exact, so the signature bits
    * are bit-stable wherever the dot products are (same fold the ann
    * family already relies on).
    */
  private val rphPlanes: Seq[Seq[Double]] =
    (0 until 32).map { p =>
      (0 until 64).map { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"rph|$p|$i".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1.0 else -1.0
      }
    }

  /** Hot-bucket occupancy cap for d7's band join — same rationale and
    * oracle-mirroring as d3/d4b's BUCKET_CAP: one degenerate bucket
    * (a mob of near-identical vectors, or a band value the signature
    * distribution happens to favor) would contribute B² candidate
    * pairs and dominate the join; dropping buckets past the cap
    * bounds the worst task. Below the cap, band recall is untouched.
    */
  private val RPH_BUCKET_CAP = 256

  /** d7: random-hyperplane LSH near-dup pairs — the third blocking
    * family for embeddings next to d5's IVF cells (data-dependent
    * centroids) and d4's token SimHash: each vector gets a 32-bit
    * signature (sign of 32 hyperplane projections — a cosine-LSH, the
    * SimHash construction applied to real vectors), the signature
    * splits into 4 × 8-bit pigeonhole bands, buckets past
    * [[RPH_BUCKET_CAP]] are dropped (d3's cap story), candidates
    * equi-join on (band, value), and every candidate is verified by
    * exact cosine. Two vectors with cosine ≥ threshold agree on most
    * signature bits (P[bit agree] = 1 − θ/π), so some 8-bit band
    * matches with high probability, and hamming ≤ 3 signature pairs
    * collide with certainty (pigeonhole over 4 bands). Scale shape:
    * shuffle keys are (band, value) buckets with 256 values per band
    * and a hard occupancy cap — per-bucket fan-out is ≤ CAP², never
    * N²/bands (the first cut used 4-bit bands: average occupancy
    * N/16 meant ~12M candidate pairs at 20k vectors; band WIDTH is
    * the lever, the cap is the backstop). The oracle mirrors banding
    * and cap, so the hash check covers the signature computation
    * itself, not just the final pairs.
    */
  /** (vec_id, v, nrm, sig): the 32-bit hyperplane signature per
    * vector — split out so the spec can assert the pigeonhole banding
    * guarantee on the signatures the query actually computes.
    */
  private[graft] def rphSignatures(s: SparkSession, d: String): DataFrame = {
    val sig = rphPlanes.zipWithIndex.map { case (h, p) =>
      when(dot(col("v"), array(h.map(lit): _*)) >= 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    corpus(s, d).withColumn("sig", sig)
  }

  /** Banding, sizing, candidate join, and dedup all run on BARE IDS —
    * the 512-byte vector payload never rides the (band, value)
    * shuffles or the pair dedup (the first cut carried v/nrm through
    * all of them: every vector shuffled 4 bands × 2 join sides with
    * its payload, and dropDuplicates exchanged full vector PAIRS —
    * 8N + 2·|cand| payload rows through the wire for an id-set
    * output). Vectors re-enter only for the exact-cosine verify, one
    * hash join per pair side on vec_id — shuffle volume ∝
    * candidates + N, the shape the oracle SQL always had.
    */
  def d7RphPairs(s: SparkSession, d: String): DataFrame = {
    val sigs = rphSignatures(s, d)
    val banded = sigs
      .select(col("vec_id"),
        explode(array((0 until 4).map(b => struct(
          lit(b).as("band"),
          shiftright(col("sig"), 8 * b).bitwiseAND(lit(255L)).as("bv"))): _*))
          .as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    val small = banded.groupBy("band", "bv").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= RPH_BUCKET_CAP).select("band", "bv")
    val kept = banded.join(small, Seq("band", "bv"))
    val cand = kept.as("x").join(kept.as("y"), Seq("band", "bv"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    val side = sigs.select(col("vec_id"), col("v"), col("nrm"))
    cand
      .join(side.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("vec_a"))
      .join(side.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("vec_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) > 0.3)
      .select(col("vec_a"), col("vec_b"))
  }

  val d7Sql: String = {
    val planeRows = rphPlanes.zipWithIndex.map { case (h, p) =>
      val arr = h.map(x => if (x > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
      s"($p, $arr)"
    }.mkString(",\n    ")
    s"""WITH c AS ($corpusSql),
       |planes(pid, h) AS (VALUES
       |    $planeRows),
       |sig AS (
       |  SELECT vec_id, v, nrm,
       |    CAST(sum(CASE WHEN ${dotSql("v", "h")} >= 0
       |             THEN CAST(1 AS BIGINT) << pid ELSE 0 END) AS BIGINT) AS sig
       |  FROM c, planes GROUP BY vec_id, v, nrm),
       |banded AS (
       |  SELECT vec_id, sig, band, (sig >> CAST(8 * band AS INT)) & 255 AS bv
       |  FROM sig, range(4) b(band)),
       |bsz AS (SELECT band, bv, count(*) AS bn FROM banded GROUP BY 1, 2),
       |kept AS (SELECT b.vec_id, b.band, b.bv FROM banded b
       |         JOIN bsz ON b.band = bsz.band AND b.bv = bsz.bv
       |         WHERE bsz.bn <= $RPH_BUCKET_CAP),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM kept x JOIN kept y
       |    ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id)
       |SELECT vec_a, vec_b
       |FROM cand
       |JOIN c a ON a.vec_id = vec_a
       |JOIN c b2 ON b2.vec_id = vec_b
       |WHERE ${dotSql("a.v", "b2.v")} / (a.nrm * b2.nrm) > 0.3""".stripMargin
  }

  /** Semantic-dup cosine threshold — tighter than d5's 0.3 pair
    * threshold on purpose: d5 mines CANDIDATE near-dup pairs for
    * downstream estimation; d11 makes an irreversible drop decision,
    * so it demands stronger evidence. The comparison is on the same
    * IEEE-stable dot/nrm fold both engines share, so the boundary is
    * bit-identical cross-engine (the invariant d5 already relies on).
    */
  private val SEM_TAU = 0.35

  /** d11: semantic dedup verdict — the SemDeDup shape (Abbas et al.
    * 2023, arXiv:2303.09540): cluster the embedding space, then
    * within each cluster drop all but one member of every
    * tight-cosine group. Clustering is the shared IVF cell assignment
    * ([[assignedCells]], d5/ann2's relation); the keep-one rule is
    * min-id DOMINATION — a vector is dropped iff a LOWER vec_id in
    * its cell sits above [[SEM_TAU]] cosine. Domination is decidable
    * per pair (no transitive-closure fixpoint like d6, and no
    * sequential scan whose verdicts depend on earlier verdicts — a
    * doc similar only to an already-dropped doc still drops, which is
    * the conservative choice for training data). The deterministic id
    * ranking replaces SemDeDup's distance-to-centroid ranking so both
    * engines elect identically without comparing IEEE scores.
    *
    * Scale shape: inherits d5's bound — the only pair work is the
    * within-cell equi-join on `cell`; the domination set is one
    * partial-aggregable distinct on vec_id; the verdict is a
    * left join of the assignment against that (tiny) set. Never N²,
    * and the expensive relation (cell assignment) is the memoized one
    * every embedding consumer shares. The keep-lowest-id rule is d1's
    * exact-dedup election applied in embedding space.
    */
  def d11SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val a = assignedCells(s, d)
    val dominated = a.as("x").join(a.as("y"), Seq("cell"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .filter(dot(col("x.v"), col("y.v")) /
        (col("x.nrm") * col("y.nrm")) > SEM_TAU)
      .select(col("y.vec_id").as("vec_id")).distinct()
      .withColumn("dom", lit(true))
    a.join(dominated, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"),
        when(col("dom"), lit("DROP")).otherwise(lit("KEEP")).as("verdict"))
  }

  val d11Sql: String =
    s"""WITH c AS ($corpusSql),
       |$assignedSqlCte,
       |dom AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM assigned x JOIN assigned y
       |    ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm) > $SEM_TAU)
       |SELECT a.vec_id, a.cell,
       |  CASE WHEN dom.vec_id IS NOT NULL THEN 'DROP' ELSE 'KEEP' END
       |    AS verdict
       |FROM assigned a LEFT JOIN dom ON a.vec_id = dom.vec_id""".stripMargin

  /** ann8: product quantization — the memory-bound ANN shape (FAISS
    * PQ / ADC): split each L2-normalized vector into M=8 subvectors
    * of 8 dims, quantize each against a K=16-codeword per-subspace
    * codebook, and a vector's index entry shrinks to 8 code nibbles.
    * Query-time ADC: the query precomputes its distance to every
    * codeword (M·K tiny table, broadcast), and a corpus vector's
    * approximate distance is the SUM of 8 table lookups — no float
    * math per corpus row at all.
    *
    * The codebook is genuinely trained, one Lloyd iteration from a
    * deterministic seed (subvectors of the 16 lowest vec_ids):
    * assign → component-wise mean per codeword → re-encode, all
    * engine-exact (see the quantization note below), so both engines
    * derive the SAME trained codebook; more iterations = ann5's loop
    * per subspace. Per-codeword distances are quantized half-up at
    * 1e-6 to longs BEFORE the cross-code sum, so the ADC total is an
    * integer sum (order-independent — the ann5/quantizedCorpus
    * convention); argmin code election is a partial-aggregable
    * min(struct(dist, k)), never a window over the N·M·K encode
    * relation. Serving is two-stage like ann7: ADC shortlists 50
    * candidates, full-precision cosine re-ranks the top-10.
    * Decision-query output: ADC and refined recall@10 against ann1's
    * exact top-10.
    *
    * 100 TB shape: training + encode are passes O(N·M·K) against a
    * broadcast codebook; ADC is one equi-join of the code relation
    * with the broadcast distance table and a partial-aggregable sum —
    * and at rest the code relation is 8 nibbles/vector, the entire
    * point: the shortlist scan reads codes, not vectors, and only the
    * 50 candidates' full vectors are fetched for re-rank. Compose
    * with ann2's IVF cells (IVF-PQ) to prune the scan the way the
    * probe path does.
    */
  /** The (vec_id, m, subvector, ‖sv‖²) relation — persisted per
    * (session, input): SIX consumers inside ann8 (seed codebook,
    * two encode passes, the Lloyd update, the query distance table,
    * and the re-rank's candidate fetch) otherwise each replay the
    * corpus scan + normalize + explode lineage; memoizing is the
    * same storage≪recompute trade as the dedup family's shingle
    * index, and at 100 TB this relation IS the PQ index's training
    * input, materialized once by construction.
    */
  private val subVectors: (SparkSession, String) => DataFrame =
    Memo.memoized("similarity.pqSubVectors") { (s, d) =>
      val M = 8; val SUB = 8
      val c = corpus(s, d).filter(col("nrm") > 0)
      val cn = c.withColumn("vn", transform(col("v"), x => x / col("nrm")))
        .select("vec_id", "vn")
      // each subvector row carries its own squared norm so the pairwise
      // squared distance is ‖a‖² − 2a·b + ‖b‖² over the NATIVE codegen'd
      // dot product — the zip_with((x,y) => (x−y)²) fold is interpreted
      // (CodegenFallback) and was this query's hot spot across the
      // N·M·K encode passes. The identity changes rounding vs the
      // fold-of-squares by ulps; the oracle computes the identical
      // expression, so the quantized longs stay engine-equal.
      cn.select(col("vec_id"), explode(array(
        (0 until M).map(m => struct(lit(m).as("m"),
          slice(col("vn"), m * SUB + 1, SUB).as("sv"))): _*)).as("e"))
        .select(col("vec_id"), col("e.m").as("m"), col("e.sv").as("sv"))
        .withColumn("s2", dot(col("sv"), col("sv")))
    }

  /** Quantized ADC distance of one subvector against one codeword:
    * ‖a‖² − 2a·b + ‖b‖² half-up at 1e-6 to a long, so every
    * cross-code reduction downstream is an integer sum. ONE
    * definition feeds training, encoding, and both ADC consumers
    * (ann8, ann10).
    */
  private def qdist(s2: Column, a: Column, b: Column, c2: Column): Column =
    floor((s2 - lit(2.0) * dot(a, b) + c2) * lit(1e6) + lit(0.5))
      .cast("long")

  /** Nearest-codeword assignment of every subvector against a
    * (broadcastable) codebook — argmin via partial-aggregable
    * min(struct(dist, k)), never a window over the N·M·K relation.
    */
  private def pqEncode(s: SparkSession, d: String,
      codebook: DataFrame): DataFrame =
    subVectors(s, d).join(codebook, Seq("m"))
      .select(col("vec_id"), col("m"), col("k"),
        qdist(col("s2"), col("sv"), col("cbv"), col("c2")).as("qd"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("qd"), col("k"))).as("mk"))
      .select(col("vec_id"), col("m"), col("mk.k").as("k"))

  /** The trained PQ codebook (m, k, cbv, c2) — one Lloyd iteration
    * from the deterministic seed (subvectors of the 16 lowest
    * vec_ids): assign → component-wise mean per codeword → done.
    * Components are half-up-quantized to longs BEFORE the sum
    * (integer reduction — no float accumulation order), mean =
    * (Σq / n) / 1e6 with both divisions IEEE-exact given identical
    * operands; a codeword that attracted nothing keeps its seed
    * (coalesce against the seed's positions). Memoized per (session,
    * input): ann8 and ann10 both train against it, and at 100 TB the
    * codebook is trained once and shipped with the index by
    * construction. M·K rows — broadcast at every use site.
    */
  private[graft] val trainedCodebook: (SparkSession, String) => DataFrame =
    Memo.memoized("similarity.pqCodebook") { (s, d) =>
      val CW = 16
      val sub = subVectors(s, d)
      val cb0 = broadcast(sub.filter(col("vec_id") < CW)
        .select(col("m"), col("vec_id").as("k"), col("sv").as("cbv"),
          col("s2").as("c2")))
      val compo = pqEncode(s, d, cb0).join(sub, Seq("vec_id", "m"))
        .select(col("m"), col("k"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .select(col("m"), col("k"), col("pos"),
          floor(col("x") * lit(1e6) + lit(0.5)).cast("long").as("qx"))
      val means = compo.groupBy("m", "k", "pos")
        .agg((sum(col("qx")).cast("double") / count(lit(1)) / lit(1e6))
          .as("mx"))
      val seedPos = cb0.select(col("m"), col("k"),
        posexplode(col("cbv")).as(Seq("pos", "sx")))
      seedPos
        .join(means, Seq("m", "k", "pos"), "left_outer")
        .withColumn("x", coalesce(col("mx"), col("sx")))
        .groupBy("m", "k")
        .agg(transform(
          sort_array(collect_list(struct(col("pos"), col("x")))),
          e => e("x")).as("cbv"))
        .withColumn("c2", dot(col("cbv"), col("cbv")))
    }

  /** The PQ code relation (vec_id, m, k) under the trained codebook —
    * 8 nibbles per vector, the index every ADC consumer scans.
    * Memoized: ann8 and ann10 share one encode pass, and at rest this
    * relation IS the PQ index, materialized once.
    */
  private[graft] val pqCodes: (SparkSession, String) => DataFrame =
    Memo.memoized("similarity.pqCodes") { (s, d) =>
      pqEncode(s, d, broadcast(trainedCodebook(s, d)))
    }

  /** The query-side ADC distance table (qid, m, k, qd) — M·K longs
    * per query, broadcast at every use site.
    */
  private def pqQueryTable(s: SparkSession, d: String): DataFrame = {
    val cb1 = broadcast(trainedCodebook(s, d))
    subVectors(s, d).filter(col("vec_id") % 100 === 0)
      .join(cb1, Seq("m"))
      .select(col("vec_id").as("qid"), col("m"), col("k"),
        qdist(col("s2"), col("sv"), col("cbv"), col("c2")).as("qd"))
  }

  def ann8PqRecall(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d).filter(col("nrm") > 0)
    val enc = pqCodes(s, d)
    val dt = broadcast(pqQueryTable(s, d))
    val cw = Window.partitionBy("qid")
      .orderBy(col("adist").asc, col("vec_id").asc)
    val cand = enc.join(dt, Seq("m", "k"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id").agg(sum(col("qd")).as("adist"))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= 50)
    val adc = cand.filter(col("crank") <= 10)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
    // exact re-rank of the 50-candidate ADC shortlist (ann7's serving
    // shape): full-precision cosine reads only the candidates' vectors
    val q = broadcast(c.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qnrm")).filter(col("qid") % 100 === 0))
    val rw = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val refined = cand.select("qid", "vec_id")
      .join(c, "vec_id").join(q, "qid")
      .withColumn("cos",
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= 10)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
    val truth = ann1BruteTopK(s, d).select(col("query_id"), col("neighbor_id"))
    // ann3's shape with two hit markers: adc/refined are each distinct
    // per pair (row_number rank filters), so the chained left joins
    // cannot fan truth out, and all three counts fall out of ONE agg —
    // no 1-row crossJoins, no BNL in the plan
    truth
      .join(adc.withColumn("hit_adc", lit(1)),
        Seq("query_id", "neighbor_id"), "left_outer")
      .join(refined.withColumn("hit_ref", lit(1)),
        Seq("query_id", "neighbor_id"), "left_outer")
      .agg(count(lit(1)).as("n_expected"),
        count(col("hit_adc")).as("n_hits_adc"),
        count(col("hit_ref")).as("n_hits_refined"))
      .withColumn("recall_adc",
        col("n_hits_adc").cast("double") / col("n_expected"))
      .withColumn("recall_refined",
        col("n_hits_refined").cast("double") / col("n_expected"))
  }

  // the ‖a‖² − 2a·b + ‖b‖² identity, matching the Spark side's
  // native-dot form operation-for-operation (the SQL twin of qdist)
  private val sqlQdist = (s2: String, a: String, b: String, c2: String) =>
    s"CAST(floor(($s2 - 2 * list_sum(list_transform(range(1, 9), " +
      s"i -> $a[i] * $b[i])) + $c2) * 1e6 + 0.5) AS BIGINT)"

  /** Shared DuckDB CTE chain for the PQ family — subvector split,
    * seed codebook, one Lloyd iteration, trained codebook, corpus
    * codes, query distance tables — mirroring the Spark side's
    * trainedCodebook/pqCodes/pqQueryTable sharing: ONE text both
    * ann8Sql and ann10Sql splice, so the two oracles cannot drift.
    * Assumes a preceding `c AS ($corpusSql)` CTE.
    */
  private val pqSqlCtes: String = {
    val sq = sqlQdist
    s"""cn AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS vn
       |       FROM c WHERE nrm > 0),
       |sub0 AS (
       |  SELECT vec_id, CAST(m AS INT) AS m, vn[m*8+1 : m*8+8] AS sv
       |  FROM cn CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS m) ms),
       |sub AS (
       |  SELECT vec_id, m, sv,
       |    list_sum(list_transform(range(1, 9), i -> sv[i] * sv[i])) AS s2
       |  FROM sub0),
       |cb0 AS (SELECT m, vec_id AS k, sv AS cbv, s2 AS c2 FROM sub
       |        WHERE vec_id < 16),
       |enc0 AS (
       |  SELECT vec_id, m, k FROM (
       |    SELECT s.vec_id, s.m, cb0.k,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${sq("s.s2", "s.sv", "cb0.cbv", "cb0.c2")} ASC, cb0.k ASC) AS rn
       |    FROM sub s JOIN cb0 ON s.m = cb0.m) r WHERE rn = 1),
       |compo AS (
       |  SELECT e.m, e.k, r.i - 1 AS pos,
       |    CAST(floor(s.sv[r.i] * 1e6 + 0.5) AS BIGINT) AS qx
       |  FROM enc0 e JOIN sub s ON s.vec_id = e.vec_id AND s.m = e.m
       |  CROSS JOIN range(1, 9) r(i)),
       |means AS (
       |  SELECT m, k, pos,
       |    CAST(sum(qx) AS DOUBLE) / count(*) / 1e6 AS mx
       |  FROM compo GROUP BY 1, 2, 3),
       |seedpos AS (
       |  SELECT m, k, r.i - 1 AS pos, cbv[r.i] AS sx
       |  FROM cb0 CROSS JOIN range(1, 9) r(i)),
       |cb1a AS (
       |  SELECT m, k, list(coalesce(mx, sx) ORDER BY pos) AS cbv
       |  FROM seedpos LEFT JOIN means USING (m, k, pos)
       |  GROUP BY 1, 2),
       |cb1 AS (
       |  SELECT m, k, cbv,
       |    list_sum(list_transform(range(1, 9), i -> cbv[i] * cbv[i])) AS c2
       |  FROM cb1a),
       |enc AS (
       |  SELECT vec_id, m, k FROM (
       |    SELECT s.vec_id, s.m, cb1.k,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${sq("s.s2", "s.sv", "cb1.cbv", "cb1.c2")} ASC, cb1.k ASC) AS rn
       |    FROM sub s JOIN cb1 ON s.m = cb1.m) r WHERE rn = 1),
       |dt AS (
       |  SELECT sq.vec_id AS qid, cb1.m, cb1.k, ${sq("sq.s2", "sq.sv", "cb1.cbv", "cb1.c2")} AS qd
       |  FROM sub sq JOIN cb1 ON sq.m = cb1.m WHERE sq.vec_id % 100 = 0)""".stripMargin
  }

  val ann8Sql: String = {
    s"""WITH c AS ($corpusSql),
       |$pqSqlCtes,
       |cand AS (
       |  SELECT qid, vec_id, crank FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY adist ASC, vec_id ASC) AS crank FROM (
       |      SELECT dt.qid, e.vec_id, CAST(sum(dt.qd) AS BIGINT) AS adist
       |      FROM enc e JOIN dt ON e.m = dt.m AND e.k = dt.k
       |      WHERE e.vec_id <> dt.qid GROUP BY 1, 2) a) r
       |  WHERE crank <= 50),
       |adc AS (SELECT qid AS query_id, vec_id AS neighbor_id
       |        FROM cand WHERE crank <= 10),
       |refined AS (
       |  SELECT qid AS query_id, vec_id AS neighbor_id FROM (
       |    SELECT cd.qid, cd.vec_id,
       |      row_number() OVER (PARTITION BY cd.qid ORDER BY
       |        ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
       |        cd.vec_id ASC) AS rank
       |    FROM cand cd JOIN c ON c.vec_id = cd.vec_id
       |                 JOIN c q ON q.vec_id = cd.qid) r
       |  WHERE rank <= 10),
       |truth AS (SELECT query_id, neighbor_id FROM ($ann1Sql) a),
       |ha AS (SELECT * FROM truth t WHERE EXISTS (
       |  SELECT 1 FROM adc g WHERE g.query_id = t.query_id
       |    AND g.neighbor_id = t.neighbor_id)),
       |hr AS (SELECT * FROM truth t WHERE EXISTS (
       |  SELECT 1 FROM refined g WHERE g.query_id = t.query_id
       |    AND g.neighbor_id = t.neighbor_id))
       |SELECT (SELECT count(*) FROM truth) AS n_expected,
       |  (SELECT count(*) FROM ha) AS n_hits_adc,
       |  (SELECT count(*) FROM hr) AS n_hits_refined,
       |  CAST((SELECT count(*) FROM ha) AS DOUBLE) /
       |    (SELECT count(*) FROM truth) AS recall_adc,
       |  CAST((SELECT count(*) FROM hr) AS DOUBLE) /
       |    (SELECT count(*) FROM truth) AS recall_refined""".stripMargin
  }

  /** How many centroid cells ann10 probes per query. 2 — one more
    * than ann2's implicit nprobe=1 — so the output can pin the claim
    * that widening probes plus PQ-with-re-rank serves at least the
    * exact single-cell recall.
    */
  private val IvfPqProbes = 2

  /** ann10: IVF-PQ — the production ANN serving composition (FAISS
    * IndexIVFPQ; ann8's scaladoc prescribes exactly this): rank the
    * broadcast centroids per query, probe the top-[[IvfPqProbes]]
    * cells, ADC-scan ONLY the probed cells' code entries (the
    * cell-keyed PQ index — at rest partitioned by cell, 8 nibbles per
    * vector), then exact-cosine re-rank the 50-candidate shortlist to
    * a top-10. Composes the two memoized index artifacts:
    * [[assignedCells]] (IVF) and [[pqCodes]] (PQ) — nothing is
    * re-trained or re-encoded here; this is the query path alone.
    *
    * Decision-query output: recall@10 of the ADC shortlist and of the
    * re-ranked top-10 against ann1's exact truth, PLUS the exact
    * nprobe=1 baseline (the rank-1 probe cell is by construction the
    * query's own assigned cell, so this IS ann2's probe width at
    * k=10) — the hash pins `recall_refined ≥ recall_nprobe1`, i.e.
    * the composed serving path beats exact single-cell IVF.
    *
    * 100 TB shape: probe ranking is O(Q·C) on broadcast centroids;
    * the candidate generation is ONE equi-join of the cell-keyed code
    * relation with the bounded (Q·w rows, broadcast) probe list —
    * only probed cells' codes are ever read (partition pruning when
    * the code relation is stored partitioned by cell) — followed by a
    * broadcast distance-table join and a partial-aggregable integer
    * sum; only the 50 shortlisted candidates' full vectors are
    * fetched for re-rank. No stage touches unprobed cells.
    */
  def ann10IvfPqRecall(s: SparkSession, d: String): DataFrame = {
    val assigned = assignedCells(s, d)
    val cent = centroids(s, d)
    val c = corpus(s, d).filter(col("nrm") > 0)
    val enc = pqCodes(s, d)
    val dt = broadcast(pqQueryTable(s, d))
    val q = broadcast(assigned.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm")))
    val crankW = Window.partitionBy("qid")
      .orderBy(col("ccos").desc, col("cid").asc)
    val probes = q.crossJoin(cent)
      .withColumn("ccos",
        dot(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
      .withColumn("prank", row_number().over(crankW))
      .filter(col("prank") <= IvfPqProbes)
      .select(col("qid"), col("cid").as("cell"), col("prank"))
    // the IVF-PQ index: codes keyed by their vector's cell
    val encCell = enc.join(assigned.select("vec_id", "cell"), Seq("vec_id"))
    val cw = Window.partitionBy("qid")
      .orderBy(col("adist").asc, col("vec_id").asc)
    val cand = encCell
      .join(broadcast(probes.select("qid", "cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(dt, Seq("qid", "m", "k"))
      .groupBy("qid", "vec_id").agg(sum(col("qd")).as("adist"))
      .withColumn("crank", row_number().over(cw))
      // shortlist SCALES WITH PROBE WIDTH (50 per probed cell — the
      // FAISS k′≫k reorder convention): a fixed 50 would prune the
      // ~50-member-per-cell candidate pool by half at w=2 and cap
      // refined recall below the exact single-cell baseline the
      // output exists to beat
      .filter(col("crank") <= 50 * IvfPqProbes)
    val adc = cand.filter(col("crank") <= 10)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
    val rw = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val refined = cand.select("qid", "vec_id")
      .join(c, "vec_id").join(q, "qid")
      .withColumn("cos",
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= 10)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
    // exact top-10 within the rank-1 probe cell: ann2's probe width
    val np1W = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val np1 = assigned
      .join(broadcast(probes.filter(col("prank") === 1)
        .select("qid", "cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(q, Seq("qid"))
      .withColumn("cos",
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(np1W))
      .filter(col("rank") <= 10)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
    val truth = ann1BruteTopK(s, d).select(col("query_id"), col("neighbor_id"))
    def hits(g: DataFrame) =
      truth.join(g, Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(count(lit(1)).as("n_expected"))
      .crossJoin(hits(adc).agg(count(lit(1)).as("n_hits_adc")))
      .crossJoin(hits(refined).agg(count(lit(1)).as("n_hits_refined")))
      .crossJoin(hits(np1).agg(count(lit(1)).as("n_hits_nprobe1")))
      .withColumn("recall_adc",
        col("n_hits_adc").cast("double") / col("n_expected"))
      .withColumn("recall_refined",
        col("n_hits_refined").cast("double") / col("n_expected"))
      .withColumn("recall_nprobe1",
        col("n_hits_nprobe1").cast("double") / col("n_expected"))
  }

  val ann10Sql: String = {
    s"""WITH c AS ($corpusSql),
       |$assignedSqlCte,
       |$pqSqlCtes,
       |qset AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm
       |         FROM assigned WHERE vec_id % 100 = 0),
       |probes AS (
       |  SELECT qid, cell, prank FROM (
       |    SELECT qset.qid, cent.cid AS cell,
       |      row_number() OVER (PARTITION BY qset.qid ORDER BY
       |        ${dotSql("cent.cv", "qset.qv")} / (cent.cnrm * qset.qnrm) DESC,
       |        cent.cid ASC) AS prank
       |    FROM qset, cent) t WHERE prank <= $IvfPqProbes),
       |enccell AS (
       |  SELECT e.vec_id, e.m, e.k, a.cell
       |  FROM enc e JOIN assigned a ON a.vec_id = e.vec_id),
       |cand AS (
       |  SELECT qid, vec_id, crank FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY adist ASC, vec_id ASC) AS crank FROM (
       |      SELECT p.qid, ec.vec_id, CAST(sum(dt.qd) AS BIGINT) AS adist
       |      FROM enccell ec JOIN probes p ON ec.cell = p.cell
       |      JOIN dt ON dt.qid = p.qid AND dt.m = ec.m AND dt.k = ec.k
       |      WHERE ec.vec_id <> p.qid GROUP BY 1, 2) a) r
       |  WHERE crank <= ${50 * IvfPqProbes}),
       |adc AS (SELECT qid AS query_id, vec_id AS neighbor_id
       |        FROM cand WHERE crank <= 10),
       |refined AS (
       |  SELECT qid AS query_id, vec_id AS neighbor_id FROM (
       |    SELECT cd.qid, cd.vec_id,
       |      row_number() OVER (PARTITION BY cd.qid ORDER BY
       |        ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
       |        cd.vec_id ASC) AS rank
       |    FROM cand cd JOIN c ON c.vec_id = cd.vec_id
       |                 JOIN c q ON q.vec_id = cd.qid) r
       |  WHERE rank <= 10),
       |np1 AS (
       |  SELECT qid AS query_id, vec_id AS neighbor_id FROM (
       |    SELECT p.qid, a.vec_id,
       |      row_number() OVER (PARTITION BY p.qid ORDER BY
       |        ${dotSql("qset.qv", "a.v")} / (qset.qnrm * a.nrm) DESC,
       |        a.vec_id ASC) AS rank
       |    FROM probes p
       |    JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.qid
       |    JOIN qset ON qset.qid = p.qid
       |    WHERE p.prank = 1) r WHERE rank <= 10),
       |truth AS (SELECT query_id, neighbor_id FROM ($ann1Sql) a),
       |ha AS (SELECT * FROM truth t WHERE EXISTS (
       |  SELECT 1 FROM adc g WHERE g.query_id = t.query_id
       |    AND g.neighbor_id = t.neighbor_id)),
       |hr AS (SELECT * FROM truth t WHERE EXISTS (
       |  SELECT 1 FROM refined g WHERE g.query_id = t.query_id
       |    AND g.neighbor_id = t.neighbor_id)),
       |hn AS (SELECT * FROM truth t WHERE EXISTS (
       |  SELECT 1 FROM np1 g WHERE g.query_id = t.query_id
       |    AND g.neighbor_id = t.neighbor_id))
       |SELECT (SELECT count(*) FROM truth) AS n_expected,
       |  (SELECT count(*) FROM ha) AS n_hits_adc,
       |  (SELECT count(*) FROM hr) AS n_hits_refined,
       |  (SELECT count(*) FROM hn) AS n_hits_nprobe1,
       |  CAST((SELECT count(*) FROM ha) AS DOUBLE) /
       |    (SELECT count(*) FROM truth) AS recall_adc,
       |  CAST((SELECT count(*) FROM hr) AS DOUBLE) /
       |    (SELECT count(*) FROM truth) AS recall_refined,
       |  CAST((SELECT count(*) FROM hn) AS DOUBLE) /
       |    (SELECT count(*) FROM truth) AS recall_nprobe1""".stripMargin
  }

  /** ann9: hybrid retrieval — reciprocal-rank fusion of a LEXICAL
    * ranking (rare-word overlap between documents, inverted-index
    * join) and the VECTOR ranking (ann1's exact cosine top-10),
    * `RRF = 1/(60+lex_rank) + 1/(60+vec_rank)` with absent-list
    * contributions 0, top-5 fused per query. The standard two-tower
    * retrieval merge (BM25 ⊕ embeddings) every RAG/curation stack
    * runs. Scale shape: the lexical side is a DF-capped inverted
    * index (postings join on rare words only — the same hot-bucket
    * policy as d2; a stopword can never fan out), the vector side
    * reuses the memoized ann1 truth relation, and the fusion is a
    * full-outer equi-join of two already-top-10 relations — O(Q·20)
    * rows, trivially broadcastable, no score arithmetic beyond two
    * exact divisions (deterministic IEEE in both engines since the
    * add order is fixed lex + vec).
    *
    * Candidate universes agree by construction: the lexical side is
    * restricted to documents that HAVE an embedding (inner join on
    * the corpus ids), matching ann1's corpus.
    */
  def ann9HybridRrf(s: SparkSession, d: String): DataFrame = {
    val ids = corpus(s, d).select(col("vec_id"))
    val post0 = Tables.load(s, d, "documents")
      .join(ids, col("doc_id") === col("vec_id"))
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .filter(length(col("w")) >= 4)
    val rare = post0.groupBy("w").agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") <= 100).select("w")
    val post = post0.join(rare, Seq("w"))
    val qpost = post.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("w"))
    val wl = Window.partitionBy("qid")
      .orderBy(col("n_shared").desc, col("doc_id").asc)
    val lex = qpost.join(post, Seq("w"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= 10)
      .select("qid", "doc_id", "lex_rank")
    val vec = ann1BruteTopK(s, d).select(col("query_id").as("qid"),
      col("neighbor_id").as("doc_id"), col("rank").as("vec_rank"))
    val wf = Window.partitionBy("qid")
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
      .withColumn("fused_rank", row_number().over(wf))
      .filter(col("fused_rank") <= 5)
      .select(col("qid").as("query_id"), col("doc_id").as("neighbor_id"),
        col("lex_rank"), col("vec_rank"), col("rrf_score"),
        col("fused_rank"))
  }

  val ann9Sql: String =
    s"""WITH c AS ($corpusSql),
       |post0 AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents JOIN c ON doc_id = c.vec_id),
       |post1 AS (SELECT doc_id, w FROM post0 WHERE length(w) >= 4),
       |rare AS (SELECT w FROM post1 GROUP BY w HAVING count(*) <= 100),
       |post AS (SELECT p.doc_id, p.w FROM post1 p JOIN rare USING (w)),
       |lex AS (
       |  SELECT qid, doc_id, lex_rank FROM (
       |    SELECT qid, doc_id, row_number() OVER (
       |      PARTITION BY qid ORDER BY n_shared DESC, doc_id ASC) AS lex_rank
       |    FROM (
       |      SELECT q.doc_id AS qid, p.doc_id AS doc_id, count(*) AS n_shared
       |      FROM post q JOIN post p ON q.w = p.w AND p.doc_id <> q.doc_id
       |      WHERE q.doc_id % 100 = 0 GROUP BY 1, 2) o) r
       |  WHERE lex_rank <= 10),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM c
       |      WHERE vec_id % 100 = 0),
       |pc AS (SELECT qid, vec_id,
       |         ${dotSql("qv", "v")} / (qnrm * nrm) AS cos
       |       FROM q, c WHERE vec_id <> qid),
       |vec AS (
       |  SELECT qid, vec_id AS doc_id, vec_rank FROM (
       |    SELECT qid, vec_id, row_number() OVER (
       |      PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS vec_rank
       |    FROM pc) r WHERE vec_rank <= 10),
       |fused AS (
       |  SELECT coalesce(lex.qid, vec.qid) AS qid,
       |    coalesce(lex.doc_id, vec.doc_id) AS doc_id,
       |    lex.lex_rank, vec.vec_rank,
       |    coalesce(CAST(1 AS DOUBLE) / (60 + lex.lex_rank), 0) +
       |      coalesce(CAST(1 AS DOUBLE) / (60 + vec.vec_rank), 0) AS rrf_score
       |  FROM lex FULL OUTER JOIN vec
       |    ON lex.qid = vec.qid AND lex.doc_id = vec.doc_id)
       |SELECT qid AS query_id, doc_id AS neighbor_id, lex_rank, vec_rank,
       |  rrf_score, fused_rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY qid ORDER BY rrf_score DESC, doc_id ASC) AS fused_rank
       |  FROM fused) f WHERE fused_rank <= 5""".stripMargin

  /** How many results ann11's diversified page returns per query. */
  private val MmrK = 5

  /** ann11: MMR diversified re-rank (Carbonell & Goldstein 1998) —
    * the serving-layer pass after retrieval: from each query's exact
    * top-10 shortlist (the memoized ann1 truth table), greedily pick
    * K results maximizing λ·rel(c) − (1−λ)·max_{s∈selected} sim(c,s),
    * so near-duplicate neighbors don't crowd the page. λ = 0.7.
    *
    * Deterministic by the ANN family's float discipline: rel and all
    * pairwise sims are the SAME ascending-index cosine fold both
    * engines use, scores are two exactly-rounded mults and one sub on
    * identical doubles, argmax ties break on vec_id, and the OUTPUT
    * is integers only (query_id, vec_id, step).
    *
    * Scale shape: greedy MMR is sequential in K but local per query,
    * so the K-step loop runs inside ONE cogroup on query_id — each
    * group holds its own ≤10-candidate shortlist plus C(10,2) sim
    * rows, and the greedy runs where the data sits. Nothing grows
    * with corpus size: at 100 TB the shortlist relation is the
    * retrieval output (queries × 10 rows), both cogrouped sides key
    * on query_id, and the sim matrix is computed once.
    */
  /** ann11's relevance and pairwise-sim relations, memoized: both are
    * reused by the spec's independent recomputation and by repeated
    * serving calls, and both are bounded (queries × 10 and
    * queries × C(10,2) rows) — persisting keeps the corpus joins
    * that build them a one-time cost per session.
    */
  private val ann11Rel: (SparkSession, String) => DataFrame =
    Memo.memoized("similarity.ann11Rel") { (s, d) =>
      val c = corpus(s, d)
      ann1BruteTopK(s, d)
        .join(c.select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qnrm")), Seq("query_id"))
        .join(c.select(col("vec_id").as("neighbor_id"), col("v").as("av"),
          col("nrm").as("anrm")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (dot(col("qv"), col("av")) / (col("qnrm") * col("anrm")))
            .as("rel"))
    }

  private val ann11Sim: (SparkSession, String) => DataFrame =
    Memo.memoized("similarity.ann11Sim") { (s, d) =>
      val c = corpus(s, d)
      val truth = ann1BruteTopK(s, d)
      truth.as("a")
        .join(truth.as("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.neighbor_id") < col("b.neighbor_id"))
        .select(col("a.query_id").as("query_id"),
          col("a.neighbor_id").as("id_a"), col("b.neighbor_id").as("id_b"))
        .join(c.select(col("vec_id").as("id_a"), col("v").as("xv"),
          col("nrm").as("xnrm")), Seq("id_a"))
        .join(c.select(col("vec_id").as("id_b"), col("v").as("yv"),
          col("nrm").as("ynrm")), Seq("id_b"))
        .select(col("query_id"), col("id_a"), col("id_b"),
          (dot(col("xv"), col("yv")) / (col("xnrm") * col("ynrm")))
            .as("sim"))
    }

  def ann11MmrRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Greedy MMR is sequential in K but LOCAL per query: each query's
    // state is its own ≤10-candidate shortlist and C(10,2) sim matrix.
    // The previous form iterated K declarative steps on the driver,
    // which embedded ~3^(K−1) copies of the step-1 subtree in the
    // final plan (Catalyst keeps no subplan sharing) — planning time
    // dominated execution. One cogroup on query_id ships both bounded
    // relations through a single shuffle and runs the whole greedy
    // loop where the data sits; nothing here scales with corpus size,
    // only with the retrieval output. mapGroups (non-codegen) is
    // justified: the loop is genuinely imperative per group.
    val rel = ann11Rel(s, d)
      .select(col("query_id"), col("neighbor_id"), col("rel"))
      .as[(Long, Long, Double)]
    val sim = ann11Sim(s, d)
      .select(col("query_id"), col("id_a"), col("id_b"), col("sim"))
      .as[(Long, Long, Long, Double)]
    rel.groupByKey(_._1).cogroup(sim.groupByKey(_._1)) { (q, rit, sit) =>
      // ascending-id candidate order + strict > makes every tie break
      // toward the smaller neighbor_id, the SQL's (score DESC, id ASC)
      val cands = rit.map(r => (r._2, r._3)).toArray.sortBy(_._1)
      val simOf = sit.map(x => ((x._2, x._3), x._4)).toMap
      val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = Seq.newBuilder[(Long, Long, Int)]
      var t = 1
      var more = cands.nonEmpty
      while (t <= MmrK && more) {
        var bestId = -1L
        var bestScore = Double.NegativeInfinity
        for ((id, r) <- cands if !picked.contains(id)) {
          // step 1 ranks raw relevance; later steps penalize the max
          // similarity to anything already picked (0.7·rel − 0.3·max),
          // the exact doubles the declarative form computed. A
          // candidate with no sim row against the picked set mirrors
          // the oracle's inner join: it is not scored (unreachable
          // when rel and sim derive from the same shortlist).
          val score =
            if (t == 1) r
            else {
              var msim = Double.NegativeInfinity
              for (p <- picked) {
                val k = (math.min(id, p), math.max(id, p))
                simOf.get(k).foreach(v => if (v > msim) msim = v)
              }
              if (msim == Double.NegativeInfinity) Double.NaN
              else 0.7 * r - 0.3 * msim
            }
          if (!score.isNaN && score > bestScore) {
            bestScore = score; bestId = id
          }
        }
        if (bestId < 0) more = false
        else { out += ((q, bestId, t)); picked += bestId; t += 1 }
      }
      out.result().iterator
    }.toDF("query_id", "vec_id", "step")
  }

  val ann11Sql: String = {
    val steps = (2 to MmrK).map { t =>
      val prev = (1 until t).map(i => s"SELECT * FROM sel_$i")
        .mkString("\n      UNION ALL ")
      s"""all_${t - 1} AS (
         |  $prev),
         |sc_$t AS (
         |  SELECT r.query_id, r.neighbor_id,
         |    0.7 * r.rel - 0.3 * max(sm.sim) AS score
         |  FROM rel r
         |  JOIN all_${t - 1} s ON s.query_id = r.query_id
         |  JOIN sim sm ON sm.query_id = r.query_id
         |    AND sm.id_a = least(r.neighbor_id, s.vec_id)
         |    AND sm.id_b = greatest(r.neighbor_id, s.vec_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM all_${t - 1} x
         |    WHERE x.query_id = r.query_id AND x.vec_id = r.neighbor_id)
         |  GROUP BY r.query_id, r.neighbor_id, r.rel),
         |sel_$t AS (
         |  SELECT query_id, neighbor_id AS vec_id, $t AS step FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id ASC) AS rn
         |    FROM sc_$t) z WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to MmrK).map(i => s"SELECT * FROM sel_$i")
      .mkString("\n  UNION ALL ")
    s"""WITH c AS ($corpusSql),
       |truth AS (SELECT query_id, neighbor_id FROM ($ann1Sql) t),
       |rel AS (
       |  SELECT t.query_id, t.neighbor_id,
       |    ${dotSql("q.v", "a.v")} / (q.nrm * a.nrm) AS rel
       |  FROM truth t
       |  JOIN c q ON q.vec_id = t.query_id
       |  JOIN c a ON a.vec_id = t.neighbor_id),
       |sim AS (
       |  SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
       |    ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm) AS sim
       |  FROM truth a
       |  JOIN truth b ON a.query_id = b.query_id
       |    AND a.neighbor_id < b.neighbor_id
       |  JOIN c x ON x.vec_id = a.neighbor_id
       |  JOIN c y ON y.vec_id = b.neighbor_id),
       |sel_1 AS (
       |  SELECT query_id, neighbor_id AS vec_id, 1 AS step FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id
       |      ORDER BY rel DESC, neighbor_id ASC) AS rn
       |    FROM rel) z WHERE rn = 1),
       |$steps
       |SELECT query_id, vec_id, step FROM (
       |  $unionAll) u""".stripMargin
  }

  /** The label predicate ann12 serves under — one constant shared by
    * truth, post-filter, and pre-filter (a drifted copy would make
    * the recall comparison compare different questions).
    */
  private val FilterLabel = 1

  /** The two selectivity regimes ann12 compares, as (name, Spark
    * predicate builder over a frame alias, SQL predicate builder over
    * a table alias) — ONE definition feeding truth, post, pre, and
    * the oracle. `label_9pct` is the common metadata filter (~1/10 of
    * the corpus); `rare_2pct` (1/41 ≈ 2.44% — named for its actual
    * selectivity) is the production failure mode (the near-unique
    * tenant/category filter) where post-filter recall collapses
    * because the unfiltered top-10 rarely contains matches.
    */
  private val Ann12Sels: Seq[(String, DataFrame => Column, String => String)] =
    Seq(
      ("label_9pct", df => df("label") === FilterLabel,
        a => s"$a.label = $FilterLabel"),
      ("rare_2pct", df => df("vec_id") % 41 === 0,
        a => s"$a.vec_id % 41 = 0"))

  /** Exact top-5 per query among predicate-matching corpus rows, one
    * slice per selectivity regime — the ground truth for filtered
    * search, materialized as a table like ann1's unfiltered truth
    * (an evaluation artifact, built once).
    */
  private val ann12TruthF: (SparkSession, String) => DataFrame =
    Memo.memoizedTable("similarity.ann12TruthF") { (s, d) =>
      val c = corpus(s, d)
      val q = broadcast(c.select(col("vec_id").as("qid"),
        col("v").as("qv"), col("nrm").as("qnrm"))
        .filter(col("qid") % 100 === 0))
      val w = Window.partitionBy("sel", "qid")
        .orderBy(col("cos").desc, col("vec_id").asc)
      Ann12Sels.map { case (name, pred, _) =>
        c.filter(pred(c)).withColumn("sel", lit(name))
      }.reduce(_ unionAll _)
        .join(q, col("vec_id") =!= col("qid"))
        .withColumn("cos",
          dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("sel"), col("qid").as("query_id"),
          col("vec_id").as("neighbor_id"), col("rank"))
    }

  /** ann12: FILTERED vector search — top-k under a metadata
    * predicate, the feature every production vector store fronts.
    * One decision row PER SELECTIVITY REGIME ([[Ann12Sels]]: the ~9%
    * label filter and the ~2.4% near-unique filter) compares the two
    * standard strategies against the filtered exact truth:
    *
    *   POST-filter — run the unfiltered search (ann1's memoized
    *   top-10), drop non-matching results, truncate to 5. Cheap, but
    *   k shrinks with the filter's selectivity (`k_eff_post`), and
    *   recall falls with it — the failure mode that pushes stores to
    *   pre-filtering.
    *
    *   PRE-filter — restrict the IVF cell join to label rows BEFORE
    *   ranking (the cell-keyed assigned table filters at the scan;
    *   at rest, label is a partition/cluster column and matching
    *   rows only are read). Recall is bounded by cell containment,
    *   not filter selectivity.
    *
    * All counts are integers from one hit-marked left join per
    * strategy (ann3's no-crossJoin shape); recalls are single IEEE
    * divisions. At 100 TB: truth is a bounded evaluation artifact;
    * the serving-path comparison is two equi-joins on bounded
    * relations.
    */
  def ann12FilteredSearch(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val truthAll = ann12TruthF(s, d)
    val assigned = assignedCells(s, d)
    val q = assigned.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cell"))
    val wIvf = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    // one decision row PER SELECTIVITY REGIME: the ~9% filter and the
    // ~2.4% near-unique filter where post-filtering collapses (review
    // finding: a single mid selectivity hides exactly the regime the
    // strategy choice exists for)
    Ann12Sels.map { case (name, pred, _) =>
      val truthF = truthAll.filter(col("sel") === name)
        .select(col("query_id"), col("neighbor_id"))
      // post-filter: unfiltered exact top-10, keep matches, top-5 by
      // ORIGINAL rank (predicate applied to the corpus row upstream
      // of the join — the same rows, one predicate site)
      val post = ann1BruteTopK(s, d)
        .join(c.filter(pred(c)).select(col("vec_id").as("neighbor_id")),
          Seq("neighbor_id"))
        .withColumn("frank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("rank").asc)))
        .filter(col("frank") <= 5)
        .select(col("query_id"), col("neighbor_id"))
      // pre-filter: IVF cell search over matching rows only
      val pre = assigned.filter(pred(assigned))
        .join(q, Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos",
          dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
        .withColumn("rank", row_number().over(wIvf))
        .filter(col("rank") <= 5)
        .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"))
      def hits(got: DataFrame): DataFrame =
        truthF.join(got.withColumn("hit", lit(1)),
          Seq("query_id", "neighbor_id"), "left_outer")
      val a = hits(post).agg(count(lit(1)).as("n_expected"),
        count(col("hit")).as("hits_post"))
      val b = hits(pre).agg(count(col("hit")).as("hits_pre"))
      val kEff = post.agg(count(lit(1)).as("k_eff_post"))
      // three bounded 1-row aggregates, combined joinlessly (d17's rule)
      a.select(col("n_expected"), col("hits_post"),
          lit(null).cast("long").as("hits_pre"),
          lit(null).cast("long").as("k_eff_post"))
        .unionAll(b.select(lit(null).cast("long").as("n_expected"),
          lit(null).cast("long").as("hits_post"), col("hits_pre"),
          lit(null).cast("long").as("k_eff_post")))
        .unionAll(kEff.select(lit(null).cast("long").as("n_expected"),
          lit(null).cast("long").as("hits_post"),
          lit(null).cast("long").as("hits_pre"), col("k_eff_post")))
        .agg(max(col("n_expected")).as("n_expected"),
          max(col("hits_post")).as("hits_post"),
          max(col("hits_pre")).as("hits_pre"),
          max(col("k_eff_post")).as("k_eff_post"))
        .withColumn("recall_post",
          col("hits_post").cast("double") / col("n_expected"))
        .withColumn("recall_pre",
          col("hits_pre").cast("double") / col("n_expected"))
        .select(lit(name).as("sel"), col("n_expected"), col("hits_post"),
          col("hits_pre"), col("k_eff_post"), col("recall_post"),
          col("recall_pre"))
    }.reduce(_ unionAll _)
  }

  val ann12Sql: String = {
    // one truthf/post/pre CTE trio per selectivity regime, generated
    // from the SAME Ann12Sels table the Spark side loops over
    val blocks = Ann12Sels.zipWithIndex.map { case ((_, _, predSql), i) =>
      s"""truthf_$i AS (
         |  SELECT qid AS query_id, vec_id AS neighbor_id FROM (
         |    SELECT q.qid, f.vec_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        ${dotSql("q.qv", "f.v")} / (q.qnrm * f.nrm) DESC,
         |        f.vec_id ASC) AS rank
         |    FROM (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM c
         |          WHERE vec_id % 100 = 0) q
         |    JOIN (SELECT * FROM c WHERE ${predSql("c")}) f
         |      ON f.vec_id <> q.qid) t WHERE rank <= 5),
         |post_$i AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT a1.query_id, a1.neighbor_id,
         |      row_number() OVER (PARTITION BY a1.query_id
         |        ORDER BY a1.rank ASC) AS frank
         |    FROM ($ann1Sql) a1
         |    JOIN c ON c.vec_id = a1.neighbor_id
         |    WHERE ${predSql("c")}) p WHERE frank <= 5),
         |pre_$i AS (
         |  SELECT qid AS query_id, vec_id AS neighbor_id FROM (
         |    SELECT q.qid, a.vec_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        ${dotSql("q.qv", "a.v")} / (q.qnrm * a.nrm) DESC,
         |        a.vec_id ASC) AS rank
         |    FROM (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cell
         |          FROM assigned WHERE vec_id % 100 = 0) q
         |    JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.qid
         |      AND ${predSql("a")}) t WHERE rank <= 5)""".stripMargin
    }
    val rows = Ann12Sels.zipWithIndex.map { case ((name, _, _), i) =>
      s"""SELECT '$name' AS sel,
         |  (SELECT count(*) FROM truthf_$i) AS n_expected,
         |  (SELECT count(*) FROM truthf_$i t WHERE EXISTS (
         |     SELECT 1 FROM post_$i p WHERE p.query_id = t.query_id
         |       AND p.neighbor_id = t.neighbor_id)) AS hits_post,
         |  (SELECT count(*) FROM truthf_$i t WHERE EXISTS (
         |     SELECT 1 FROM pre_$i p WHERE p.query_id = t.query_id
         |       AND p.neighbor_id = t.neighbor_id)) AS hits_pre,
         |  (SELECT count(*) FROM post_$i) AS k_eff_post,
         |  CAST((SELECT count(*) FROM truthf_$i t WHERE EXISTS (
         |     SELECT 1 FROM post_$i p WHERE p.query_id = t.query_id
         |       AND p.neighbor_id = t.neighbor_id)) AS DOUBLE) /
         |    (SELECT count(*) FROM truthf_$i) AS recall_post,
         |  CAST((SELECT count(*) FROM truthf_$i t WHERE EXISTS (
         |     SELECT 1 FROM pre_$i p WHERE p.query_id = t.query_id
         |       AND p.neighbor_id = t.neighbor_id)) AS DOUBLE) /
         |    (SELECT count(*) FROM truthf_$i) AS recall_pre""".stripMargin
    }
    s"""WITH c AS ($corpusSql),
       |$assignedSqlCte,
       |${blocks.mkString(",\n")}
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  // --------------------------------------------------- ann15 NN join

  /** The NN join's production probe width: [[ann15bProbeCoverage]]
    * measured (and spec-pins) coverage 1.0 at nprobe = 4 on this
    * index — every working vector gets matched — for a bounded
    * centroid-ranking broadcast (the audited ann6/ann10 shape). ONE
    * constant so the operator, its oracle, and the calibration row
    * cannot drift apart.
    */
  private[graft] val Ann15Nprobe = 4

  /** ann15: nearest-neighbor JOIN — match EVERY vector of the working
    * corpus (vec_id % 3 ≠ 0) to its best reference vector (vec_id %
    * 3 = 0), searched over each vector's top-[[Ann15Nprobe]] IVF
    * cells. The all-rows analogue of ann2's per-query search: label
    * transfer, nearest-reference lookup, and cross-corpus alignment
    * all run this shape, where the "query set" is the entire corpus
    * and a per-query broadcast is impossible. Emits (vec_id,
    * match_id, cos quantized at 1e-6 by ONE fixed IEEE tree,
    * same_label — the label-transfer agreement signal).
    *
    * nprobe is a real knob: 1 is the single-probe assigned-cell join
    * (cheapest, with the honest silent-drop semantics — vectors whose
    * own cell holds no reference are absent), and the registered
    * default is [[Ann15Nprobe]], where [[ann15bProbeCoverage]] proves
    * coverage 1.0 on this index — the r14 verdict's "promote the
    * covered width to the production default". ann15b remains the
    * calibration row stating the whole curve.
    *
    * Scale shape: probe ranking is ONE corpus × C bounded broadcast
    * pass (no join key exists for centroid ranking — the audited
    * ann6/ann10 shape, whitelisted in PlanAudit); candidates stay a
    * cell-keyed equi-join (fan-out ≤ nprobe × cell occupancy — at
    * rest the cell is a partition key, so each task reads one cell
    * of each side) and a partial-aggregable arg-max
    * (max(struct(cos, -rid))) — never a window over the pair
    * relation, no per-query state.
    */
  def ann15NnJoin(s: SparkSession, d: String): DataFrame =
    ann15NnJoinAt(s, d, Ann15Nprobe)

  private[graft] def ann15NnJoinAt(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val a = assignedCells(s, d).filter(col("nrm") > 0)
    val left = a.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
    val crankW = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    // rank 1 is the assigned cell by construction (assignment IS the
    // max-cosine centroid), so nprobe = 1 reproduces the single-probe
    // join exactly — ann15b's b1 ≡ ann15 invariant, now structural
    val probed = left.crossJoin(centroids(s, d))
      .withColumn("ccos",
        dot(col("cv"), col("v")) / (col("cnrm") * col("nrm")))
      .withColumn("crank", row_number().over(crankW))
      .filter(col("crank") <= nprobe)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        col("cid").as("cell"))
    val ref = a.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id").as("rid"), col("label").as("rlabel"),
        col("v").as("rv"), col("nrm").as("rnrm"), col("cell"))
    // each reference lives in exactly ONE cell and the probed cells
    // per vector are distinct, so the join yields each (vec, ref)
    // pair at most once — no dedup before the arg-max
    probed.join(ref, Seq("cell"))
      .withColumn("cos",
        dot(col("v"), col("rv")) / (col("nrm") * col("rnrm")))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("cos"), (-col("rid")).as("nrid"),
        col("rlabel"))).as("best"))
      .select(col("vec_id"), (-col("best.nrid")).as("match_id"),
        floor(col("best.cos") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("cos_x1e6"),
        (col("best.rlabel") === col("label")).as("same_label"))
  }

  val ann15Sql: String =
    s"""WITH c AS ($corpusSql),
       |$assignedSqlCte,
       |l AS (SELECT vec_id, label, v, nrm FROM c
       |      WHERE nrm > 0 AND vec_id % 3 <> 0),
       |probed AS (
       |  SELECT vec_id, label, v, nrm, cid AS cell FROM (
       |    SELECT l.vec_id, l.label, l.v, l.nrm, cent.cid,
       |      row_number() OVER (PARTITION BY l.vec_id ORDER BY
       |        ${dotSql("cent.cv", "l.v")} / (cent.cnrm * l.nrm) DESC,
       |        cent.cid ASC) AS crank
       |    FROM l, cent) t WHERE crank <= $Ann15Nprobe),
       |r AS (SELECT vec_id AS rid, label AS rlabel, v AS rv,
       |        nrm AS rnrm, cell FROM assigned
       |      WHERE nrm > 0 AND vec_id % 3 = 0),
       |p AS (SELECT p0.vec_id, p0.label, r.rid, r.rlabel,
       |        ${dotSql("p0.v", "r.rv")} / (p0.nrm * r.rnrm) AS cos
       |      FROM probed p0 JOIN r USING (cell))
       |SELECT vec_id, rid AS match_id,
       |  CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_x1e6,
       |  rlabel = label AS same_label
       |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cos DESC, rid ASC) AS rn FROM p) t
       |WHERE rn = 1""".stripMargin

  /** ann15b: probe-widened NN join — ann15 with ann10's recall lever
    * applied to the all-rows shape: each working vector probes its
    * top-`nprobe` centroid cells (not just its assigned cell), so
    * vectors whose own cell holds no reference — silently ABSENT
    * from single-probe ann15 — get matched from the next-nearest
    * cells. One row per nprobe ∈ {1, 2, 4} states the coverage
    * curve: n_matched / n_vecs (quantized at 1e-6), how many matches
    * agree with the single-probe answer, and the monotone-improvement
    * invariant n_cos_geq_np1 (for every vector both widths answer,
    * the widened cosine is ≥ the single-probe one — the candidate
    * set only grows; the hash-checked count pins it, ann7's
    * recall_refined ≥ recall_nprobe1 discipline).
    *
    * Scale shape: the probe ranking is ONE corpus × C broadcast pass
    * (ann6/ann10's probe step lifted from the query sample to the
    * working corpus — no join key exists for centroid ranking, the
    * audited bounded-broadcast shape); candidates stay a cell-keyed
    * equi-join with fan-out ≤ nprobe × cell occupancy; per-vector
    * arg-max is partial-aggregable; the report is three single-row
    * aggregates over bounded joins.
    */
  def ann15bProbeCoverage(s: SparkSession, d: String): DataFrame = {
    val a = assignedCells(s, d).filter(col("nrm") > 0)
    val cent = centroids(s, d)
    val left = a.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("v"), col("nrm"))
    val crankW = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    val probed = left.crossJoin(cent)
      .withColumn("ccos",
        dot(col("cv"), col("v")) / (col("cnrm") * col("nrm")))
      .withColumn("crank", row_number().over(crankW))
      .filter(col("crank") <= 4)
      .select(col("vec_id"), col("v"), col("nrm"),
        col("cid").as("cell"), col("crank"))
    val ref = a.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id").as("rid"), col("v").as("rv"),
        col("nrm").as("rnrm"), col("cell"))
    def best(np: Int): DataFrame =
      probed.filter(col("crank") <= np).join(ref, Seq("cell"))
        .withColumn("cos",
          dot(col("v"), col("rv")) / (col("nrm") * col("rnrm")))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos"), (-col("rid")).as("nrid"))).as("b"))
        .select(col("vec_id"), (-col("b.nrid")).as("match_id"),
          col("b.cos").as("cos"))
    val b1 = best(1).select(col("vec_id"), col("match_id").as("m1"),
      col("cos").as("c1"))
    val nv = left.agg(count(lit(1)).as("n_vecs"))
    Seq(1, 2, 4).map { np =>
      best(np).join(b1, Seq("vec_id"), "left_outer")
        .agg(count(lit(1)).as("n_matched"),
          coalesce(sum(when(col("match_id") === col("m1"), 1L)
            .otherwise(0L)), lit(0L)).as("n_agree_np1"),
          coalesce(sum(when(col("c1").isNotNull &&
            col("cos") >= col("c1"), 1L).otherwise(0L)), lit(0L))
            .as("n_cos_geq_np1"))
        .crossJoin(nv)
        .select(lit(np).as("nprobe"), col("n_vecs"), col("n_matched"),
          floor(col("n_matched").cast("double") /
            col("n_vecs").cast("double") * lit(1000000.0) + lit(0.5))
            .cast("long").as("coverage_x1e6"),
          col("n_agree_np1"), col("n_cos_geq_np1"))
    }.reduce(_.unionAll(_))
  }

  val ann15bSql: String = {
    val perNp = Seq(1, 2, 4).map { np =>
      s"""b$np AS (
         |  SELECT vec_id, rid AS match_id, cos FROM (
         |    SELECT p.vec_id, r.rid,
         |      ${dotSql("p.v", "r.rv")} / (p.nrm * r.rnrm) AS cos,
         |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
         |        ${dotSql("p.v", "r.rv")} / (p.nrm * r.rnrm) DESC,
         |        r.rid ASC) AS rn
         |    FROM probed p JOIN r USING (cell) WHERE p.crank <= $np) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val branches = Seq(1, 2, 4).map { np =>
      s"""SELECT $np AS nprobe,
         |  (SELECT count(*) FROM l) AS n_vecs,
         |  (SELECT count(*) FROM b$np) AS n_matched,
         |  CAST(floor(CAST((SELECT count(*) FROM b$np) AS DOUBLE) /
         |    CAST((SELECT count(*) FROM l) AS DOUBLE) * 1000000.0 + 0.5)
         |    AS BIGINT) AS coverage_x1e6,
         |  (SELECT count(*) FROM b$np b JOIN b1 o USING (vec_id)
         |     WHERE b.match_id = o.match_id) AS n_agree_np1,
         |  (SELECT count(*) FROM b$np b JOIN b1 o USING (vec_id)
         |     WHERE b.cos >= o.cos) AS n_cos_geq_np1""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH c AS ($corpusSql),
       |$assignedSqlCte,
       |l AS (SELECT vec_id, v, nrm FROM c
       |      WHERE nrm > 0 AND vec_id % 3 <> 0),
       |probed AS (
       |  SELECT vec_id, v, nrm, cid AS cell, crank FROM (
       |    SELECT l.vec_id, l.v, l.nrm, cent.cid,
       |      row_number() OVER (PARTITION BY l.vec_id ORDER BY
       |        ${dotSql("cent.cv", "l.v")} / (cent.cnrm * l.nrm) DESC,
       |        cent.cid ASC) AS crank
       |    FROM l, cent) t WHERE crank <= 4),
       |r AS (SELECT vec_id AS rid, v AS rv, nrm AS rnrm, cell
       |      FROM assigned WHERE nrm > 0 AND vec_id % 3 = 0),
       |$perNp
       |$branches""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("ann15_nn_join", ann15NnJoin, ann15Sql),
    Query("ann15b_probe_coverage", ann15bProbeCoverage, ann15bSql),
    Query("ann12_filtered_search", ann12FilteredSearch, ann12Sql),
    Query("ann11_mmr_rerank", ann11MmrRerank, ann11Sql),
    Query("ann9_hybrid_rrf", ann9HybridRrf, ann9Sql),
    Query("ann10_ivfpq_recall", ann10IvfPqRecall, ann10Sql),
    Query("ann5_kmeans_iter", ann5KmeansIter, ann5Sql),
    Query("ann13_reindex_gate", ann13ReindexGate, ann13Sql),
    Query("ann14_mrl_recall", ann14MrlRecall, ann14Sql),
    Query("ann8_pq_recall", ann8PqRecall, ann8Sql),
    Query("ann6_probe_sweep", ann6ProbeSweep, ann6Sql),
    Query("d7_rph_pairs", d7RphPairs, d7Sql),
    Query("ann1_brute_topk", ann1BruteTopK, ann1Sql),
    Query("ann2_ivf_topk", ann2IvfTopK, ann2Sql),
    Query("ann3_recall", ann3Recall, ann3Sql),
    Query("ann4_quantized_recall", ann4QuantizedRecall, ann4Sql),
    Query("ann7_refine_recall", ann7RefineRecall, ann7Sql),
    Query("d5_cosine_pairs_banded", d5CosinePairsBanded, d5Sql),
    Query("d11_semantic_dedup", d11SemanticDedup, d11Sql))
}
