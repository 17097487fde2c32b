package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType, TimestampType}

import graft.{Query, Tables}
import graft.streaming.StreamRun
import graft.functions.Norm.{xhash64, xhash64Sql}

/** Deduplication operators over the `documents` corpus: exact
  * (content-hash groupBy), n-gram Jaccard, MinHash+LSH banding, and
  * SimHash — the standard large-corpus near-dup ladder.
  *
  * Scale shape: everything is explode → hash → groupBy/join on hash
  * buckets. No pairwise O(n²) work except *within* candidate buckets
  * (LSH's whole point) — including d4b's SimHash hamming pairs, which
  * go through pigeonhole banding (4×12-bit bands of the 48-bit
  * fingerprint, equi-join on (band, value), capped buckets, hamming
  * evaluated only on candidates; any pair within distance 3 must
  * agree exactly on ≥1 band, so banding loses nothing).
  */
object Dedup {


  /** doc_id + exploded distinct 3-gram shingles. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .withColumn("w", TextAnalysis.words(col("text")))
      .withColumn("sh", expr(TextAnalysis.shingleExpr))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))

  private val shinglesSql: String =
    s"""SELECT doc_id, unnest(${TextAnalysis.shingleSqlDuck}) AS shingle
       |FROM (SELECT doc_id, string_split(text, ' ') AS w
       |      FROM documents) base""".stripMargin

  // ------------------------------------------------------------- queries

  /** d1: exact dedup — canonical-content hash, keep lowest doc_id.
    * One partial-aggregable groupBy on the hash: the 100 TB fast path.
    */
  def d1ExactDedup(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .withColumn("fingerprint",
        md5(lower(regexp_replace(col("text"), "\\s+", " "))))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  val d1Sql: String =
    """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Document-frequency cap for the shingle inverted index: a shingle
    * shared by more than DF_CAP documents is stopword-like and is
    * dropped BEFORE the pair join. Without the cut a hot shingle
    * shared by 10⁶ docs fans out to 10¹² join rows — the classic
    * all-pairs blowup; with it, per-shingle fan-out is bounded by
    * DF_CAP², independent of corpus size.
    */
  private val DF_CAP = 50

  /** d2: n-gram Jaccard near-dup — df-capped shingle inverted index,
    * pair counts via bucket self-join, Jaccard from |∩| and per-doc
    * set sizes. All of n_inter/n_a/n_b are computed over the capped
    * shingle sets, so the Jaccard stays internally consistent (and
    * near-dup pairs, which share mostly *rare* shingles, are
    * unaffected by dropping ubiquitous ones).
    */
  /** THE materialized shingle inverted index, one per (session,
    * input): (doc_id, h1, h2) with both 60-bit halves of one md5 per
    * distinct shingle. Persisted and shared by every dedup consumer —
    * d2 reads h1 as its hashed shingle key, d3/d6 read (h1, h2) as
    * the double-hashing bases — so the tokenize + explode + digest
    * pipeline (the single most expensive scan in the family) runs
    * ONCE for the whole query set, not once per query.
    * MEMORY_AND_DISK spills past RAM (the 100 TB story: materialize
    * the inverted index, storage ≪ recompute). Hashing to longs AT
    * the index means every downstream shuffle/join moves 8-byte keys
    * instead of ~20-byte strings; the oracle applies identical
    * hashing so the (vanishingly rare) collisions are shared, not
    * divergent. The map holds the reference deliberately — lifetime
    * is the session; size is the index, the family's working set.
    */
  private val shingleIndex: (SparkSession, String) => DataFrame =
    Memo.memoized("dedup.shingleIndex") { (s, d) =>
      val (h1, h2) = hashPair(col("shingle"))
      shingles(s, d).select(col("doc_id"), h1.as("h1"), h2.as("h2"))
    }

  /** The DF_CAP'd shingle relation — THE definition of "kept" both d2
    * (threshold mining) and d9 (estimator calibration) ground their
    * exact Jaccard in; one copy so a capping-policy change can't
    * desynchronize the two.
    */
  private def cappedKept(s: SparkSession, d: String): DataFrame = {
    val sh = shingleIndex(s, d).select(col("doc_id"), col("h1").as("shingle"))
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= DF_CAP).select("shingle")
    sh.join(rare, "shingle")
  }

  private def keptCounts(kept: DataFrame): DataFrame =
    kept.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))

  private def keptIntersections(kept: DataFrame): DataFrame =
    kept.as("a").join(kept.as("b"), Seq("shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))

  /** THE pair-stats relation both threshold miners (d2, d13) filter:
    * (doc_a, doc_b, n_inter, n_a, n_b, jaccard) over the df-capped
    * shingle sets. One definition so a join-shape or cap-policy
    * change can never desynchronize the two operators' candidate
    * semantics — this exact block is where the 10x gate caught a
    * superlinear shape in round 7, and the fix must hold for every
    * consumer. Per-doc set size rides INTO the pair join (one
    * shuffle of kept by doc_id) instead of joining counts onto the
    * pair relation after the groupBy — that shape reshuffled the
    * O(pairs) relation twice (once per side). n_sh is functionally
    * dependent on doc_id, so first() per pair group is exact. No
    * broadcast: counts is O(corpus docs) and must stay a shuffle
    * join at 100 TB.
    */
  /** Memoized per (session, input) — d2 and d13 are two THRESHOLDS
    * over one relation, and the pair self-join is the family's most
    * expensive step after the index build; un-memoized, each miner
    * re-paid it (~1.8 s each at sf0.1). Same storage≪recompute trade
    * as the shingle index itself; at rest this relation is the
    * near-dup candidate table a production deduper materializes once
    * per corpus snapshot.
    */
  private val pairStats: (SparkSession, String) => DataFrame =
    Memo.memoized("dedup.pairStats") { (s, d) =>
      val kept = cappedKept(s, d)
      val withN = kept.join(keptCounts(kept), "doc_id")
      withN.as("a").join(withN.as("b"), Seq("shingle"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_inter"),
          first(col("a.n_sh")).as("n_a"), first(col("b.n_sh")).as("n_b"))
        .withColumn("jaccard",
          col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")))
    }

  def d2NgramJaccard(s: SparkSession, d: String): DataFrame =
    pairStats(s, d)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")

  val d2Sql: String =
    s"""WITH sh0 AS ($shinglesSql),
       |sh AS (SELECT doc_id, ${xhash64Sql("shingle")} AS shingle FROM sh0),
       |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
       |kept AS (SELECT sh.doc_id, sh.shingle FROM sh
       |         JOIN dfreq ON sh.shingle = dfreq.shingle
       |         WHERE dfreq.df <= $DF_CAP),
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_inter, ca.n_sh AS n_a, cb.n_sh AS n_b,
       |  CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
       |FROM inter
       |JOIN counts ca ON ca.doc_id = doc_a
       |JOIN counts cb ON cb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.5""".stripMargin

  /** d13: asymmetric containment pairs — |A∩B| / min(|A|,|B|) over
    * the same df-capped shingle sets d2 grounds its Jaccard in. The
    * quote/excerpt case Jaccard structurally misses: a short doc
    * wholly embedded in a much longer one has tiny Jaccard (the long
    * doc's extra shingles swamp the union) but containment ≈ 1. The
    * threshold (0.8) and the Jaccard contrast column make the output
    * the deduper's review queue: pairs where containment fires and
    * Jaccard stayed silent. Same scale shape as d2 — one self-join on
    * the capped inverted index, set sizes riding into the pair
    * groupBy, no post-groupBy joins of the pair relation.
    */
  def d13ContainmentPairs(s: SparkSession, d: String): DataFrame =
    pairStats(s, d)
      .withColumn("containment",
        col("n_inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= 0.8)
      .select("doc_a", "doc_b", "n_inter", "n_a", "n_b",
        "containment", "jaccard")

  val d13Sql: String =
    s"""WITH sh0 AS ($shinglesSql),
       |sh AS (SELECT doc_id, ${xhash64Sql("shingle")} AS shingle FROM sh0),
       |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
       |kept AS (SELECT sh.doc_id, sh.shingle FROM sh
       |         JOIN dfreq ON sh.shingle = dfreq.shingle
       |         WHERE dfreq.df <= $DF_CAP),
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_inter, ca.n_sh AS n_a, cb.n_sh AS n_b,
       |  CAST(n_inter AS DOUBLE) / least(ca.n_sh, cb.n_sh) AS containment,
       |  CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
       |FROM inter
       |JOIN counts ca ON ca.doc_id = doc_a
       |JOIN counts cb ON cb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / least(ca.n_sh, cb.n_sh) >= 0.8""".stripMargin

  /** d14: fuzzy entity-name pairs — every distinct `p_name` pair
    * within Levenshtein distance ≤ 2, found WITHOUT an all-pairs
    * scan via the FastSS deletion-neighborhood scheme: each name
    * emits its ≤2-char-deletion variants as signatures, and any two
    * names within edit distance 2 are GUARANTEED to share one
    * (delete the edited positions from each side) — so an equi-join
    * on the signature is an exact-recall candidate generator, and
    * `levenshtein` runs only inside candidate buckets. Per-name
    * fan-out is 1 + n + n(n−1)/2 signatures (n = name length, short
    * for entity names), the bucket join is capped at 256 members
    * (same hot-bucket policy as d2's DF_CAP — mirrored in the
    * oracle), and the whole pipeline is explode → distinct →
    * equi-join → filter: linear in distinct names, never in name
    * pairs. The entity-resolution twin of the document-level d2/d3.
    *
    * Recall contract, precisely: exact WHEN no shared-signature
    * bucket exceeds the cap — a pair whose ONLY common signature
    * lives in a capped bucket (possible for very short names whose
    * 2-deletion signatures degenerate, e.g. hundreds of 2-char names
    * all sharing the empty signature) is dropped, the same
    * recall-for-boundedness trade as every capped LSH family here.
    * DedupSpec asserts the tested vocabularies stay below the cap,
    * so its brute-force-equality checks genuinely exercise the
    * exact-recall regime.
    */
  /** The FastSS join over ANY (w, freq) vocabulary relation — d14's
    * engine, exposed so the property test can drive it with random
    * vocabularies and compare against a brute-force quadratic scan.
    */
  private[graft] def fuzzyPairs(vocab: DataFrame): DataFrame = {
    // delete position `p` from string `str` (1-based); substring
    // clamps past-the-end, so length(w) is a safe max tail length
    def del(str: String, p: String) =
      s"concat(substring($str, 1, $p - 1), substring($str, $p + 1, length(w)))"
    val dj = del("w", "j")
    val sigExpr =
      s"""flatten(transform(sequence(1, length(w)), j ->
         |  transform(sequence(0, j - 1), i ->
         |    CASE WHEN i = 0 THEN $dj ELSE ${del(s"($dj)", "i")} END)))"""
        .stripMargin
    val sigs = vocab
      .select(col("w"), col("freq"),
        explode(array_distinct(concat(expr(sigExpr), array(col("w")))))
          .as("sig"))
    val keptSig = sigs.groupBy("sig").agg(count(lit(1)).as("members"))
      .filter(col("members") <= 256).select("sig")
    val kept = sigs.join(keptSig, Seq("sig"))
    kept.as("a").join(kept.as("b"), Seq("sig"))
      .filter(col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("name_a"), col("b.w").as("name_b"))
      .agg(min(col("a.freq")).as("freq_a"), min(col("b.freq")).as("freq_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .select("name_a", "name_b", "dist", "freq_a", "freq_b")
  }

  def d14FuzzyNamePairs(s: SparkSession, d: String): DataFrame =
    fuzzyPairs(Tables.load(s, d, "part")
      .groupBy(col("p_name").as("w")).agg(count(lit(1)).as("freq")))

  val d14Sql: String =
    """WITH vocab AS (
      |  SELECT p_name AS w, count(*) AS freq FROM part GROUP BY 1),
      |sigs0 AS (
      |  SELECT w, freq, unnest(list_append(flatten(
      |    [[CASE WHEN i = 0
      |        THEN substr(w, 1, j - 1) || substr(w, j + 1, length(w))
      |        ELSE substr(substr(w, 1, j - 1) || substr(w, j + 1, length(w)),
      |               1, i - 1)
      |             || substr(substr(w, 1, j - 1) || substr(w, j + 1, length(w)),
      |                  i + 1, length(w))
      |      END for i in range(0, j)]
      |     for j in range(1, length(w) + 1)]), w)) AS sig
      |  FROM vocab),
      |sigs AS (SELECT DISTINCT w, freq, sig FROM sigs0),
      |keptsig AS (SELECT sig FROM sigs GROUP BY sig HAVING count(*) <= 256),
      |kept AS (SELECT s.w, s.freq, s.sig FROM sigs s JOIN keptsig USING (sig)),
      |cand AS (
      |  SELECT a.w AS name_a, b.w AS name_b,
      |         min(a.freq) AS freq_a, min(b.freq) AS freq_b
      |  FROM kept a JOIN kept b ON a.sig = b.sig AND a.w < b.w
      |  GROUP BY 1, 2)
      |SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist,
      |  freq_a, freq_b
      |FROM cand WHERE levenshtein(name_a, name_b) <= 2""".stripMargin

  private val K = 8 // minhash functions; bands of 2 rows → 4 bands

  /** Double-hashing family for MinHash (Kirsch–Mitzenmacher): two
    * base hashes per shingle, then h_i = h1 + i·h2' — k hash
    * functions from ONE md5: a 128-bit digest carries two independent
    * 60-bit halves (chars 1-15 and 16-30 of the hex), so one hash
    * call feeds both bases — round 2 computed two full md5s per
    * shingle, the single hottest expression in the whole bench. h2 is
    * reduced below 2^57 so h1 + 7·h2' stays under int64
    * (overflow-free ⇒ bit-identical in both engines).
    *
    * A strictly monotone family (h_i = a_i·h + b_i over ONE base
    * hash) is degenerate here: min over shingles commutes with any
    * increasing map, so every minhash would be determined by the one
    * minimum-h shingle and all LSH bands would be perfectly
    * correlated. Two independent base halves break the monotonicity —
    * the argmin shingle genuinely varies with i.
    */
  private def hashPair(shingle: org.apache.spark.sql.Column) = (
    xhash64(shingle),
    Norm.xhash64b(shingle) % lit(144115188075855872L)) // 2^57

  /** d3: MinHash + LSH banding — k double-hashing minhashes per
    * shingle, per-doc minima form the signature; 2-row bands
    * bucket-join into candidate pairs. The k hashes are k COLUMNS on
    * the shingle rows reduced with one groupBy of k min() aggregates —
    * no k× row inflation (round 1 crossJoin'd a range(k) and exploded
    * the shingle table 8×), two md5s per shingle instead of k, all
    * partial-aggregable. The pair join touches only docs sharing a
    * band bucket — the LSH scale path.
    */
  /** Per-doc minhash signature (mh0..mhK-1) from a (doc_id, shingle)
    * relation — exposed for direct testing of the hash family.
    */
  /** Signature from an already-hashed (doc_id, h1, h2) index. */
  private def minhashSignatureFromIndex(idx: DataFrame): DataFrame = {
    val mins = (0 until K).map { i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"mh$i")
    }
    idx.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  def minhashSignature(shingleDf: DataFrame): DataFrame = {
    val (h1, h2) = hashPair(col("shingle"))
    minhashSignatureFromIndex(
      shingleDf.select(col("doc_id"), h1.as("h1"), h2.as("h2")))
  }

  /** Hot-bucket cap for LSH band buckets: a (band, sig) bucket holding
    * more than BUCKET_CAP docs is dropped before the pair self-join.
    * Without it a boilerplate cluster of B identical docs emits B²
    * candidate pairs inside its bucket — B is in the millions for
    * template text in real corpora, and one hot bucket goes quadratic.
    * Near-dup recall is unaffected where it matters: genuinely
    * identical docs are caught by d1's exact dedup, and a >CAP bucket
    * at 2-row band width means a duplication cluster far past the
    * "find me a few near-dups" regime. Same shape as d2's DF_CAP.
    */
  private val BUCKET_CAP = 64

  /** Candidate pairs from banded minhash signatures; `bucketCap`
    * exposed for the degenerate-corpus property test.
    */
  /** A signature relation exploded into its (doc_id, band, sig)
    * bucket memberships — the shared unit of every banded-LSH
    * consumer (d3/d6's pair mining, d19's incremental index+probe).
    */
  private[functions] def bandRelation(sig: DataFrame): DataFrame = {
    val bandArr = array((0 until K / 2).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":", col(s"mh${2 * b}").cast("string"),
          col(s"mh${2 * b + 1}").cast("string")).as("sig"))
    }: _*)
    sig.select(col("doc_id"), explode(bandArr).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.sig").as("sig"))
  }

  def bandedPairs(sig: DataFrame, bucketCap: Int = BUCKET_CAP): DataFrame = {
    val bands = bandRelation(sig)
    val small = bands.groupBy("band", "sig")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= bucketCap).select("band", "sig")
    val kept = bands.join(small, Seq("band", "sig"))
    kept.as("x").join(kept.as("y"), Seq("band", "sig"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** d3/d6 shared candidate pairs, persisted and memoized per
    * (session, input dir): the two registered queries share ~90% of
    * their work (shingle explode + md5 + signature groupBy — round 2
    * ran the whole pipeline twice, the top-2 bench entries). The
    * pairs relation is tiny (near-dup pairs only), so pinning it is
    * effectively free and the second consumer starts from it. The map
    * holds a strong reference deliberately — lifetime is the session,
    * and the cached thing is bounded output, not corpus-sized input.
    */
  val d3MinhashLsh: (SparkSession, String) => DataFrame =
    Memo.memoized("dedup.d3MinhashPairs") { (s, d) =>
      bandedPairs(minhashSignatureFromIndex(shingleIndex(s, d)))
    }

  /** Shared sh→hashed→sig CTE chain — d3's candidate machinery and
    * d9's calibration oracle compose over ONE copy, so a banding or
    * hash-family change cannot silently fork the two oracles.
    */
  private val sigCtesSql: String = {
    val mins = (0 until K).map { i =>
      s"CAST(min(h1 + $i * h2) AS BIGINT) AS mh$i"
    }.mkString(",\n    ")
    s"""sh AS ($shinglesSql),
       |hashed AS (
       |  SELECT doc_id, ${xhash64Sql("shingle")} AS h1,
       |    ${Norm.xhash64bSql("shingle")} % 144115188075855872 AS h2
       |  FROM sh),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM hashed GROUP BY doc_id)""".stripMargin
  }

  val d3Sql: String = {
    val bands = (0 until K / 2).map { b =>
      s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || ':' || " +
        s"CAST(mh${2 * b + 1} AS VARCHAR) AS sig FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $sigCtesSql,
       |bands AS (
       |  $bands),
       |bsz AS (SELECT band, sig, count(*) AS bn FROM bands GROUP BY 1, 2),
       |kept AS (SELECT b.doc_id, b.band, b.sig FROM bands b
       |         JOIN bsz ON b.band = bsz.band AND b.sig = bsz.sig
       |         WHERE bsz.bn <= $BUCKET_CAP)
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |FROM kept x JOIN kept y ON x.band = y.band AND x.sig = y.sig
       |WHERE x.doc_id < y.doc_id""".stripMargin
  }

  /** d15's oracle: d3's banding with the STREAMING hot-bucket rule —
    * the stream caps each bucket at its first [[BUCKET_CAP]] members
    * in admission order (a stream cannot retract a prefix), while
    * batch d3 retroactively drops the WHOLE over-cap bucket. d15's
    * replay feed arrives as one AvailableNow batch in doc_id order,
    * so admission order IS doc_id order and the prefix is
    * `row_number() OVER (PARTITION BY band, sig ORDER BY doc_id)` —
    * this oracle stays correct on a future fixture with a hot bucket,
    * where d3Sql's whole-bucket drop would diverge from the stream.
    */
  val d15Sql: String = {
    val bands = (0 until K / 2).map { b =>
      s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || ':' || " +
        s"CAST(mh${2 * b + 1} AS VARCHAR) AS sig FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $sigCtesSql,
       |bands AS (
       |  $bands),
       |ranked AS (
       |  SELECT doc_id, band, sig,
       |         row_number() OVER (PARTITION BY band, sig
       |                            ORDER BY doc_id) AS rk
       |  FROM bands),
       |kept AS (SELECT doc_id, band, sig FROM ranked
       |         WHERE rk <= $BUCKET_CAP)
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |FROM kept x JOIN kept y ON x.band = y.band AND x.sig = y.sig
       |WHERE x.doc_id < y.doc_id""".stripMargin
  }

  /** 48 simhash bits: wide enough that the 4 LSH bands below span 12
    * bits each (4096 bucket values per band — real selectivity at
    * corpus scale; a 16-bit hash would give bands only 16 distinct
    * values, i.e. no pruning), while every shifted bit weight
    * (1L << 47 max) stays a positive int64 in both engines.
    */
  private val BITS = 48

  /** d4: SimHash — frequency-weighted ±1 vote per hash bit over all
    * word occurrences; one explode + one groupBy with BITS sum
    * aggregates (all partial-aggregable).
    */
  def d4Simhash(s: SparkSession, d: String): DataFrame = {
    val wordsH = Tables.load(s, d, "documents")
      .select(col("doc_id"),
        explode(TextAnalysis.words(col("text"))).as("word"))
      .select(col("doc_id"), xhash64(col("word")).as("h"))
    val votes = (0 until BITS).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v$j")
    }
    val sim = (0 until BITS).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    wordsH.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
  }

  val d4Sql: String = {
    val votes = (0 until BITS).map { j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n    ")
    val sim = (0 until BITS)
      .map(j => s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""SELECT doc_id, CAST($sim AS BIGINT) AS simhash FROM (
       |  SELECT doc_id,
       |    $votes
       |  FROM (SELECT doc_id, ${xhash64Sql("unnest(string_split(text, ' '))")} AS h
       |        FROM documents) wh
       |  GROUP BY doc_id) v""".stripMargin
  }

  /** d4b: SimHash near-dup pairs (hamming ≤ 3) via pigeonhole banding:
    * the 48-bit simhash splits into 4 bands of 12 bits; ≤3 differing
    * bits can touch at most 3 bands, so every qualifying pair shares
    * at least one band value — candidates come from an EQUI-join on
    * (band, value) and the hamming filter runs only on them (round 1
    * shipped the all-pairs plan itself: a BroadcastNestedLoopJoin,
    * O(N²) at scale). Recall is 1 by pigeonhole for every pair whose
    * shared buckets are UNDER the hot-bucket cap; a >CAP bucket is
    * dropped (see below), so the oracle mirrors the banding + cap
    * rather than exact all-pairs — the hamming predicate remains the
    * independently-computed semantic check.
    */
  def d4bSimhashPairs(s: SparkSession, d: String): DataFrame = {
    val sim = d4Simhash(s, d)
    val bandArr = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), 12 * b).bitwiseAND(lit(4095L)).as("bv"))
    }: _*)
    val bands = sim.select(col("doc_id"), col("simhash"),
        explode(bandArr).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    // hot-bucket cap, same rationale as d3: a >CAP bucket is a
    // boilerplate cluster whose B² in-bucket pairs would dominate the
    // join; dropping it trades recall on degenerate near-identical
    // mobs (already collapsed by d1) for a bound on the worst bucket.
    // Recall below the cap is still 1 by pigeonhole.
    val small = bands.groupBy("band", "bv").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= BUCKET_CAP).select("band", "bv")
    val kept = bands.join(small, Seq("band", "bv"))
    kept.as("a").join(kept.as("b"), Seq("band", "bv"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** The oracle mirrors the banding + cap with its own SQL (VALUES
    * band table vs Spark explode) so both engines drop identical
    * buckets; the hamming predicate stays the semantic check.
    */
  val d4bSql: String =
    s"""WITH sim AS ($d4Sql),
       |bands AS (
       |  SELECT doc_id, simhash, bt.band,
       |         (simhash >> (12 * bt.band)) & 4095 AS bv
       |  FROM sim, (VALUES (0),(1),(2),(3)) bt(band)),
       |bsz AS (SELECT band, bv, count(*) AS bn FROM bands GROUP BY 1, 2),
       |kept AS (SELECT b.doc_id, b.simhash, b.band, b.bv FROM bands b
       |         JOIN bsz ON b.band = bsz.band AND b.bv = bsz.bv
       |         WHERE bsz.bn <= $BUCKET_CAP)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM kept a JOIN kept b ON a.band = b.band AND a.bv = b.bv
       |WHERE a.doc_id < b.doc_id
       |  AND bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** Connected components by iterative min-label propagation: each
    * node starts labeled with itself; every round, each node takes the
    * minimum label among itself and its neighbors, until a fixpoint.
    * Converges in ≤ diameter rounds (near-dup components are tiny —
    * chains of a few docs — so a handful of rounds; the cap is a
    * safety net). This is the standard distributed CC shape
    * (label propagation over an edge list, lineage truncated per
    * round); the driver only coordinates rounds and checks the
    * 1-row convergence count — no data is collected.
    */
  /** Edge-count threshold above which callers with an at-rest pair
    * relation (d6, m9) switch the fixpoint to `reliable = true`:
    * below it the edge relation is a sensible block-manager working
    * set (the loop is seconds, re-running it on executor loss is
    * cheap); above it a lost executor aborting a multi-minute
    * fixpoint costs more than the reliable mode's one extra durable
    * scan per round. At 100 TB every LSH pair relation that survives
    * the band cap crosses this and the loop runs fault-tolerant
    * automatically.
    */
  private[graft] val CcReliableEdges: Long = 4L * 1000 * 1000

  /** `edgeCountHint`: the caller's pair count, when it has one in
    * hand (d6/m9 count the at-rest pair relation to gate `reliable`
    * anyway) — sizes the reliable-mode edge BUCKET COUNT so the
    * layout scales with the data instead of pinning the shuffle
    * width: ~100k edges per bucket, capped at
    * `spark.sql.shuffle.partitions`. A tiny relation then lands in
    * ONE bucket (no 32-single-bucket-task fan-out per round — the
    * sub-threshold penalty SCALE.md measured), while anything at the
    * engagement scale saturates the cap. -1 = no hint, use the cap.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50,
      reliable: Boolean = false, edgeCountHint: Long = -1L): DataFrame = {
    val sess = pairs.sparkSession
    // `reliable = true` hosts every materialization in SCRATCH
    // PARQUET instead of the block manager: a lost executor recomputes
    // partitions from the durable files instead of aborting the whole
    // iterative job, and nothing corpus-sized pins executor memory.
    // The edges land BUCKETED on the join key (below), so like the
    // fast path each round re-shuffles only the label side; the
    // residual cost is one label write+scan per round — measured at
    // sf0.1 in SCALE.md. The final label relation stays on disk until
    // the JVM-exit sweep (callers memoize the result).
    val scratch =
      if (reliable)
        Some(graft.operators.Migrate.tempDir("cc_rel"))
      else None
    // reliable mode's edges land as a table BUCKETED BY THE MESSAGE
    // JOIN KEY (t): a plain parquet round-trip forgets the hash
    // partitioning, so every round would re-shuffle BOTH join sides —
    // the bucket layout pays that shuffle once at write time and each
    // round's join then re-shuffles only the (small) label side, the
    // same per-round cost as the fast path, while the edge relation
    // stays a durable file scan for fault tolerance (the s12
    // zero-Exchange pattern applied to an iterative join). External
    // table form: the data lives in the swept scratch dir; the
    // catalog entry is dropped once the fixpoint converges.
    var edgeTable: Option[String] = None
    def hostEdges(df: DataFrame): DataFrame = scratch match {
      case Some(dir) =>
        val cap = sess.conf.get("spark.sql.shuffle.partitions").toInt
        val n =
          if (edgeCountHint < 0) cap
          else math.max(1L, math.min(cap.toLong,
            edgeCountHint / 100000L)).toInt
        val tbl = "graft_cc_edges_" + java.util.UUID.randomUUID()
          .toString.replace("-", "").take(12)
        edgeTable = Some(tbl)
        df.repartition(n, col("t")).write.format("parquet")
          .bucketBy(n, "t")
          .option("path", s"$dir/edges").saveAsTable(tbl)
        sess.table(tbl)
      case None => df.localCheckpoint(true)
    }
    def hostLabels(df: DataFrame, round: Int): DataFrame =
      scratch match {
        case Some(dir) =>
          df.write.parquet(s"$dir/l$round")
          // the previous round's labels are dead once this round's
          // files exist — sweep them so the loop holds at most two
          // label generations on disk
          if (round > 0)
            graft.operators.Migrate.deleteTree(s"$dir/l${round - 1}")
          sess.read.schema("doc_id BIGINT, label BIGINT")
            .parquet(s"$dir/l$round")
        case None => df.localCheckpoint(false)
      }
    // symmetrized edge list plus one self-loop per node, so "min over
    // self and neighbors" is a single join+groupBy every round (no
    // union with the label relation — unioning a checkpointed DF
    // trips Spark 4.1.2's union constraint rewrite, `key not found:
    // doc_id#…`). Hash-partitioned ONCE on the message join key: the
    // checkpoint captures the partitioning, so every round's join
    // re-shuffles only the (small) label side, never the edges.
    val sym = pairs.select(col("doc_a").as("s"), col("doc_b").as("t"))
      .unionAll(pairs.select(col("doc_b").as("s"), col("doc_a").as("t")))
    // the loop runs under try/finally so the bucketed edge table's
    // catalog entry is dropped even when the fixpoint THROWS
    // (non-convergence, a failed round) — a leaked entry would point
    // at a scratch dir the JVM-exit sweep later deletes from under it
    try {
    val edges = hostEdges(sym
      .unionAll(sym.select(col("s"), col("s").as("t")).distinct())
      .repartition(col("t")))
    // seed = the first propagation's result, min(self, neighbors),
    // from one groupBy (self-loops put every node's own id in its
    // min) — a full round's progress for a fraction of a round's cost
    var labels = hostLabels(edges.groupBy(col("s").as("doc_id"))
      .agg(min(col("t")).as("label")), 0)
    // labels(n) ≤ n from the seed on, and each round can only lower a
    // label, so the label total strictly decreases until the fixpoint:
    // ONE driver-side Long per round is the whole convergence check —
    // no changed-flag bookkeeping, no second action. The same sum
    // action is also what materializes that round's lazy checkpoint.
    // (coalesce: sum over an EMPTY label set is null — zero pairs in,
    // e.g. every LSH bucket over the cap, must converge immediately,
    // not NPE)
    def labelSum(l: DataFrame): Long =
      l.agg(coalesce(sum("label"), lit(0L))).head.getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // message passing fused with the self-min (self-loops carry each
      // node's own label through the same join): ONE join + ONE
      // groupBy per round
      val stepped = edges
        .join(labels.withColumnRenamed("doc_id", "t"), "t")
        .groupBy(col("s").as("doc_id")).agg(min("label").as("label"))
      // pointer jumping: follow label→label once per round, so label
      // distance to the component minimum contracts geometrically —
      // chains converge in O(log diameter) rounds instead of
      // O(diameter). (A second jump per round was measured: it does
      // NOT cut rounds — convergence here is propagation-limited, not
      // pointer-chain-limited — and its extra shuffle made rounds 30%
      // slower.) At a fixpoint the jump is the identity, so jumping
      // unconditionally is safe.
      i += 1
      val jumped = hostLabels(stepped.as("x")
        .join(stepped.as("y"), col("x.label") === col("y.doc_id"), "left")
        .select(col("x.doc_id").as("doc_id"),
          coalesce(col("y.label"), col("x.label")).as("label")), i)
      val s = labelSum(jumped)
      converged = s == prevSum
      prevSum = s
      labels = jumped
    }
    // loud failure beats silently-wrong cluster ids: a component with
    // diameter > maxIters means the fixpoint wasn't reached
    require(converged,
      s"connected components did not converge in $maxIters rounds")
    labels.select(col("doc_id"), col("label").as("cluster_id"))
    } finally
      // the returned labels are a plain file scan independent of the
      // edge relation — the bucketed table's catalog entry is pure
      // metadata (external table: DROP leaves the scratch files to
      // the JVM-exit sweep)
      edgeTable.foreach(t => sess.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** d6: near-dup clustering — connected components over the MinHash
    * LSH candidate pairs; cluster id = min doc_id in the component
    * (the survivor a keep-one dedup would retain). The oracle computes
    * the same components with a recursive transitive-closure CTE —
    * a completely different algorithm, so agreement pins both.
    */
  /** d6/d10 shared cluster assignment, persisted and memoized per
    * (session, input dir) — the connected-components fixpoint is an
    * iterative multi-job computation whose output (doc_id →
    * cluster_id, near-dup docs only) is tiny; canonicalization (d10)
    * and any other keep-one consumer start from the same relation
    * instead of re-running the loop, exactly like the d3 pairs cache
    * one level down.
    */
  val d6DupClusters: (SparkSession, String) => DataFrame =
    Memo.memoized("dedup.d6Clusters") { (s, d) =>
      // edge count gates the fault-tolerance mode: the cached pair
      // relation makes the count a bounded action, and past
      // CcReliableEdges the fixpoint hosts its state in scratch
      // parquet instead of executor block storage (see
      // connectedComponents)
      val pairs = d3MinhashLsh(s, d)
      val nPairs = pairs.count()
      connectedComponents(pairs,
        reliable = nPairs > CcReliableEdges, edgeCountHint = nPairs)
    }

  val d6Sql: String =
    s"""WITH RECURSIVE pairs AS ($d3Sql),
       |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(s, t) AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s)
       |SELECT s AS doc_id, least(s, min(t)) AS cluster_id
       |FROM reach GROUP BY s""".stripMargin

  /** Streaming arm of d1: exact dedup over a document FEED — the
    * ingestion-time shape of the batch content-hash dedup. The state
    * store keys on the canonical-content fingerprint and
    * `dropDuplicatesWithinWatermark` EVICTS a key once the watermark
    * passes its arrival + delay window, so state holds the
    * watermark window's working set, never the corpus history — the
    * only state contract that survives an unbounded 100 TB/day feed.
    * (Consequence, proven in DedupSpec: a duplicate arriving after
    * its original's state evicted is re-emitted; cross-window dedup
    * is the batch d1's job downstream.)
    */
  def streamingExactDedup(s: SparkSession, feedDir: String, outDir: String,
      checkpointDir: String, delay: String = "10 minutes"): StreamingQuery = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    s.readStream.schema(schema).parquet(feedDir)
      .withColumn("fingerprint",
        md5(lower(regexp_replace(col("text"), "\\s+", " "))))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("fingerprint")
      .select(col("doc_id"), col("fingerprint"), col("ts"))
      .writeStream.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir)
      .start()
  }

  /** One arriving doc's membership in one LSH band bucket. */
  final case class BucketArrival(band: Int, sig: String, doc_id: Long,
      ts: java.sql.Timestamp)

  /** A streamed near-dup candidate: the arriving doc co-bucketed with
    * a previously seen one (doc_a < doc_b; `band` says which band
    * fired — the same pair may fire from several).
    */
  final case class CandidatePair(doc_a: Long, doc_b: Long, band: Int)

  /** Streaming arm of d3: near-dup CANDIDATE detection at ingestion.
    * Each arriving doc computes its K-minhash signature as a pure
    * per-row projection (array_min over the shingle array with the
    * SAME double-hash family as the batch groupBy — no shuffle, the
    * signature is row-local by construction), explodes into the same
    * 2-row band buckets as [[bandedPairs]], and probes per-bucket
    * GroupState holding the bucket's previously seen member docs:
    * every prior member pairs with the arrival.
    *
    * Bounded state, twice over: (1) a bucket at [[BUCKET_CAP]]
    * members stops admitting AND emitting — the ONLINE analogue of
    * the batch hot-bucket drop (batch retroactively drops the whole
    * >cap bucket; a stream cannot retract, so the prefix is capped —
    * at most C(cap,2) pairs can ever leave one bucket, and a
    * boilerplate template flood stays non-quadratic); (2) an
    * EventTimeTimeout evicts a bucket once the watermark passes its
    * last arrival + `delay` — state holds the watermark-era working
    * set, never corpus history (streamingExactDedup's contract; a
    * near-dup of an evicted doc is the downstream batch d3's job).
    * DedupSpec proves the emitted distinct pairs equal the batch
    * [[bandedPairs]] on the same corpus (arrival = doc_id order) and
    * the cap stops a hot bucket.
    */
  def streamingNearDup(s: SparkSession, feedDir: String, outDir: String,
      checkpointDir: String, delayMinutes: Int = 10,
      bucketCap: Int = BUCKET_CAP): StreamingQuery = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val delay = s"$delayMinutes minutes"
    val delayMs = delayMinutes * 60000L
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    // hash each shingle ONCE (md5 digest → both 60-bit halves inside
    // one lambda, where codegen CSE folds the repeated md5 node),
    // then derive the 8 minhash slots as integer transforms over the
    // hashed pairs. Higher-order lambdas are codegen-fallback, so the
    // naive form — 8 independent transforms each re-digesting every
    // shingle — paid 16 interpreted md5 evaluations per shingle and
    // dominated the micro-batch (11.7 s addBatch at sf0.1; ~3x less
    // after this split). Same double-hash family as the batch index.
    def mh(i: Int): org.apache.spark.sql.Column =
      array_min(transform(col("hp"), p =>
        p.getField("h1") + lit(i.toLong) * p.getField("h2")))
    val bandArr = array((0 until K / 2).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":", mh(2 * b).cast("string"),
          mh(2 * b + 1).cast("string")).as("sig"))
    }: _*)
    s.readStream.schema(schema).parquet(feedDir)
      .withColumn("w", TextAnalysis.words(col("text")))
      .withColumn("sh", expr(TextAnalysis.shingleExpr))
      .filter(size(col("sh")) > 0)
      .withColumn("hp", transform(col("sh"), g =>
        struct(xhash64(g).as("h1"),
          (Norm.xhash64b(g) % lit(144115188075855872L)).as("h2"))))
      .withWatermark("ts", delay)
      .select(explode(bandArr).as("bb"), col("doc_id"), col("ts"))
      .select(col("bb.band").as("band"), col("bb.sig").as("sig"),
        col("doc_id"), col("ts"))
      .as[BucketArrival]
      .groupByKey(a => (a.band, a.sig))
      .flatMapGroupsWithState[(Seq[Long], Long), CandidatePair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: (Int, String), rows: Iterator[BucketArrival],
            state: GroupState[(Seq[Long], Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (members, storedMax) =
              state.getOption.getOrElse((Seq.empty[Long], 0L))
            // eviction clock = max event time EVER seen, carried in
            // the state: a late-but-valid arrival after a newer one
            // must not move the timeout BACKWARDS (the documented
            // contract is last arrival + delay, monotone)
            var maxTs = storedMax
            val out = Seq.newBuilder[CandidatePair]
            // deterministic within-batch order (a micro-batch is a
            // set): oldest doc id admits first, like the batch view
            rows.toSeq.sortBy(_.doc_id).foreach { r =>
              maxTs = math.max(maxTs, r.ts.getTime)
              if (!members.contains(r.doc_id) && members.size < bucketCap) {
                members.foreach { m =>
                  out += CandidatePair(math.min(m, r.doc_id),
                    math.max(m, r.doc_id), k._1)
                }
                members = members :+ r.doc_id
              }
            }
            state.update((members, maxTs))
            state.setTimeoutTimestamp(maxTs + delayMs)
            out.result().iterator
          }
      }
      .writeStream.option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir)
      .start()
  }

  /** The documents corpus as a timestamped parquet feed, written
    * ONCE per (session, input dir) — d15 and d16 replay the same
    * feed, so the second arm pays no feed write. (Plain path memo,
    * not a [[memoized]] DataFrame: the artifact is files on disk.)
    */
  // the feed memo holds a PATH, not a DataFrame — Memo.memoizedValue
  // registers its purge hook centrally (files stay on disk; see Memo)
  private val docsFeed: (SparkSession, String) => String =
    Memo.memoizedValue("dedup.feedCache") { (s, d) =>
      val feed = graft.operators.Migrate.tempDir("stream_feed") + "/feed"
      // spread the feed over files: the documents table is one tiny
      // parquet file, and a 1-file feed makes the micro-batch run
      // the ENTIRE per-row signature pipeline (interpreted
      // higher-order lambdas — the expensive part) in a single
      // task before the first shuffle (measured: 6.5 of d15's 9 s).
      // A real ingestion feed arrives as many files. The 8 files set
      // the scan's task count only; the stream session's width (4)
      // sizes the stateful stages after the first shuffle.
      Tables.load(s, d, "documents").repartition(8)
        .select(col("doc_id"), col("text"),
          timestamp_seconds(lit(1704067200L) + col("doc_id")).as("ts"))
        .write.mode("overwrite").parquet(feed)
      feed
    }

  // the feed write is a first-consumer one-time cost exactly like a
  // memoized relation build — register it with the warmup registry
  // so neither d15 nor d16's timed figure absorbs it
  Memo.memoWarmers.put("dedup.docsFeed",
    (s: SparkSession, d: String) => s.read.parquet(docsFeed(s, d)))

  /** d15: the STREAMING near-dup arm under the batch ORACLE — the
    * documents corpus replayed as a timestamped parquet feed through
    * [[streamingNearDup]] (AvailableNow, but the real machinery: the
    * per-row signature projection, the band explode, the per-bucket
    * flatMapGroupsWithState with watermark + cap), then the emitted
    * candidates read back as the distinct pair set. DedupSpec proves
    * the arm ≡ [[bandedPairs]]; this row puts that equivalence under
    * the DuckDB hash gate every batch operator answers to, so the
    * streaming arm is no longer the one component without a
    * CORRECTNESS entry. Oracle = d3's SQL (the same pair truth).
    */
  def d15StreamingNearDup(s: SparkSession, d: String): DataFrame = {
    val feed = docsFeed(s, d)
    val root = StreamRun.run(s, "d15") { (ss, dir) =>
      streamingNearDup(ss, feed, s"$dir/out", s"$dir/ckpt")
    }
    s.read.schema("doc_a LONG, doc_b LONG, band INT").parquet(s"$root/out")
      .select("doc_a", "doc_b").distinct()
  }

  /** d16: the streaming EXACT-dedup arm under the batch oracle — the
    * same replayed feed through [[streamingExactDedup]]
    * (dropDuplicatesWithinWatermark over the canonical content
    * fingerprint), emitted rows read back as (fingerprint, 1). The
    * hash gate proves the emitted fingerprint set IS the corpus's
    * distinct fingerprint set with exactly one survivor each —
    * ingestion-time dedup dropped every in-window duplicate and lost
    * nothing. (Which doc_id survives a within-batch tie is
    * scheduler-order and deliberately NOT part of the contract;
    * cross-window canonical election is batch d1's job.)
    */
  def d16StreamingExactDedup(s: SparkSession, d: String): DataFrame = {
    val feed = docsFeed(s, d)
    val root = StreamRun.run(s, "d16") { (ss, dir) =>
      streamingExactDedup(ss, feed, s"$dir/out", s"$dir/ckpt")
    }
    s.read.schema("doc_id LONG, fingerprint STRING, ts TIMESTAMP")
      .parquet(s"$root/out")
      .groupBy("fingerprint").agg(count(lit(1)).as("n_out"))
  }

  val d16Sql: String =
    """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
      |    AS fingerprint,
      |  CAST(1 AS BIGINT) AS n_out
      |FROM documents GROUP BY 1""".stripMargin

  // ------------------------------------------------------------- registry

  /** d9: MinHash estimator calibration — for every d3 candidate pair,
    * the K-slot signature agreement (the Jaccard ESTIMATE the LSH
    * bands act on: E[n_eq/K] = J) next to the exact capped-shingle
    * Jaccard (d2's arithmetic without its 0.5 threshold). This is the
    * estimator-quality report a dedup deployment reads before trusting
    * banded candidates at 100 TB — if the K=8 estimate decorrelates
    * from exact J on real data, the band thresholds are wrong. The
    * capped index is first SEMI-JOINED to the candidate docs, so the
    * exact-Jaccard self-join runs over candidate neighborhoods only —
    * never d2's full all-rare-pairs mining a second time; signatures
    * and the shingle index are the memoized relations d2/d3 share.
    */
  def d9EstimatorCalibration(s: SparkSession, d: String): DataFrame = {
    val pairs = d3MinhashLsh(s, d)
    val sig = minhashSignatureFromIndex(shingleIndex(s, d))
    val eq = (0 until K).map(i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = pairs
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        eq.cast("long").as("n_eq_slots"))
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val kept = cappedKept(s, d)
      .join(candDocs, Seq("doc_id"), "left_semi")
    val counts = keptCounts(kept)
    val inter = keptIntersections(kept)
    val denom = coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L)) -
      coalesce(col("n_inter"), lit(0L))
    est
      .join(inter, Seq("doc_a", "doc_b"), "left_outer")
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), Seq("doc_a"), "left_outer")
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), Seq("doc_b"), "left_outer")
      .select(col("doc_a"), col("doc_b"), col("n_eq_slots"),
        when(denom > 0, coalesce(col("n_inter"), lit(0L)).cast("double")
          / denom).as("jaccard"))
  }

  val d9Sql: String = {
    val eq = (0 until K).map(i =>
      s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $sigCtesSql,
       |pairs AS (SELECT doc_a, doc_b FROM ($d3Sql) p3),
       |est AS (
       |  SELECT p.doc_a, p.doc_b, CAST($eq AS BIGINT) AS n_eq_slots
       |  FROM pairs p JOIN sig a ON a.doc_id = p.doc_a
       |               JOIN sig b ON b.doc_id = p.doc_b),
       |shk AS (SELECT doc_id, h1 AS shingle FROM hashed),
       |dfreq AS (SELECT shingle, count(*) AS df FROM shk GROUP BY 1),
       |kept2 AS (SELECT shk.doc_id, shk.shingle FROM shk
       |          JOIN dfreq ON shk.shingle = dfreq.shingle
       |          WHERE dfreq.df <= $DF_CAP),
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM kept2 GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
       |  FROM kept2 x JOIN kept2 y ON x.shingle = y.shingle
       |  WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT e.doc_a, e.doc_b, e.n_eq_slots,
       |  CASE WHEN coalesce(ca.n_sh, 0) + coalesce(cb.n_sh, 0)
       |            - coalesce(i.n_inter, 0) > 0
       |       THEN CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
       |         (coalesce(ca.n_sh, 0) + coalesce(cb.n_sh, 0)
       |          - coalesce(i.n_inter, 0))
       |  END AS jaccard
       |FROM est e
       |LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
       |LEFT JOIN counts ca ON ca.doc_id = e.doc_a
       |LEFT JOIN counts cb ON cb.doc_id = e.doc_b""".stripMargin
  }

  /** d17: LSH band-plan report — BEFORE committing a (bands, rows)
    * split of the K-slot minhash signature at 100 TB, score every
    * factorization b×r = K on (a) the theoretical S-curve
    * P(candidate | J) = 1 − (1 − J^r)^b against the engine's 0.5
    * near-dup threshold (false-negative mass above it, false-positive
    * mass below it, integrated on a 1/128 grid), and (b) the CORPUS'S
    * OWN candidate pairs: the d9 signature-agreement histogram gives
    * each pair's Jaccard estimate e/K, and Σ n_pairs·(1 − (e/K)^r)^b
    * is the expected number of today's candidates each plan would
    * MISS. The minimum fn+fp plan is flagged — this is datasketch's
    * `_optimal_param` made corpus-grounded (public algorithm; see
    * Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3.4).
    *
    * Every probability is a fixed multiplication CHAIN over exact
    * grid doubles (j = g/128, je = e/K — exact power-of-two
    * divisions), scaled by an exact power of two (2^40 on the grid;
    * 2^20 on the pair-count-weighted empirical side, where the
    * larger scale would overflow int64 past ~8M pairs per bucket)
    * and floored to BIGINT before any sum, so the report is
    * integer-exact, partition-invariant, and cross-engine
    * identical — no pow(), no float accumulation.
    * Scale shape: the grid is 127 rows × 4 configs; the only
    * data-sized input is the bounded candidate histogram (≤ K+1
    * rows after a partial-aggregable groupBy over d9's pairs).
    */
  def d17BandPlanner(s: SparkSession, d: String): DataFrame = {
    val S = "1099511627776.0" // 2^40: exact scaling before floor
    val SE = "1048576.0" // 2^20: empirical scale (see bound note below)
    def chain(v: String, n: Int) = Seq.fill(n)(v).mkString("(", " * ", ")")
    // every config's miss chain, inlined from the grid/empirical
    // probability columns: structurally the same left-folded
    // multiplication chains as the per-config column pipeline this
    // replaces, so the doubles (and their floors) are bit-identical —
    // only the PLAN changed, from one aggregation pass PER CONFIG to
    // one pass carrying all configs' aggregates as columns
    def missOf(v: String, b: Int, r: Int) =
      chain(s"(1.0 - ${chain(v, r)})", b)
    val cfgs = bandConfigs.zipWithIndex
    val hist = d9EstimatorCalibration(s, d)
      .groupBy(col("n_eq_slots").as("e"))
      .agg(count(lit(1)).as("n_pairs"))
    // ONE grid pass: fn/fp for ALL configs as aggregate columns (the
    // old per-config loop re-planned the 127-row grid per config —
    // cheap) …
    val gridCols = cfgs.flatMap { case ((b, r), i) =>
      val miss = missOf("j", b, r)
      Seq(
        expr(s"CAST(coalesce(sum(CASE WHEN g >= 64 THEN " +
          s"CAST(floor($miss * $S) AS BIGINT) ELSE CAST(0 AS BIGINT) " +
          s"END), CAST(0 AS BIGINT)) AS BIGINT) AS fn_$i"),
        expr(s"CAST(coalesce(sum(CASE WHEN g < 64 THEN " +
          s"CAST(floor((1.0 - $miss) * $S) AS BIGINT) ELSE " +
          s"CAST(0 AS BIGINT) END), CAST(0 AS BIGINT)) AS BIGINT) " +
          s"AS fp_$i"))
    }
    val gridAgg = s.range(1, 128).toDF("g")
      .selectExpr("g", "CAST(g AS DOUBLE) / 128.0 AS j")
      .agg(gridCols.head, gridCols.tail: _*)
    // … and ONE empirical pass: the old loop re-planned the ENTIRE d9
    // estimator subtree (pairs ⋈ sig ⋈ sig, two SortMergeJoins) once
    // per band config — four computations of the only data-sized
    // input for a 4-row report (round-16 plan dump: 41 scans).
    //
    // empirical side scales by 2^20, not 2^40: the term multiplies
    // by a bucket's PAIR COUNT, and 2^20-scaled probabilities keep
    // the int64 sum exact up to ~2^43 pairs per agreement bucket —
    // beyond any cap-bounded candidate set — where a 2^40 scale
    // would wrap (and wrap DIFFERENTLY in the two engines) past
    // ~8M pairs.
    val empCols = cfgs.map { case ((b, r), i) =>
      expr(s"CAST(coalesce(sum(n_pairs * " +
        s"CAST(floor(${missOf("je", b, r)} * $SE) AS BIGINT)), " +
        s"CAST(0 AS BIGINT)) AS BIGINT) AS em_$i")
    }
    val empAgg = hist
      .selectExpr("n_pairs", s"CAST(e AS DOUBLE) / $K.0 AS je")
      .agg(empCols.head, empCols.tail: _*)
    // combine the two 1-row aggregates WITHOUT a join: a crossJoin
    // is a CartesianProduct and a constant-key equi-join constant-
    // folds back into a BNL — both banned by the plan audit. A
    // union + max-collapse is joinless and exact (each column is
    // non-null on exactly one side). The 4 report rows then unfold
    // from the single combined row via explode(array(struct…)) — one
    // subtree, not a unionAll of four re-planned copies.
    val nullL = lit(null).cast("long")
    val collapseCols = cfgs.flatMap { case (_, i) =>
      Seq(max(col(s"fn_$i")).as(s"fn_$i"),
        max(col(s"fp_$i")).as(s"fp_$i"),
        max(col(s"em_$i")).as(s"em_$i"))
    }
    val one = gridAgg
      .select(cfgs.flatMap { case (_, i) =>
        Seq(col(s"fn_$i"), col(s"fp_$i"), nullL.as(s"em_$i"))
      }: _*)
      .unionAll(empAgg.select(cfgs.flatMap { case (_, i) =>
        Seq(nullL.as(s"fn_$i"), nullL.as(s"fp_$i"), col(s"em_$i"))
      }: _*))
      .agg(collapseCols.head, collapseCols.tail: _*)
    one.select(explode(array(cfgs.map { case ((b, r), i) =>
        struct(lit(b).as("b"), lit(r).as("r"),
          col(s"fn_$i").as("fn_scaled"), col(s"fp_$i").as("fp_scaled"),
          col(s"em_$i").as("exp_missed_scaled"))
      }: _*)).as("cfg"))
      .select("cfg.*")
      .withColumn("selected",
        col("fn_scaled") + col("fp_scaled") ===
          min(col("fn_scaled") + col("fp_scaled"))
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(lit(1))))
  }

  /** The factorizations of the K-slot signature a planner can choose
    * from (r = rows per band, b = bands; b·r = K) — derived from the
    * SAME [[K]] the signatures use, so a width change cannot leave
    * the planner dividing by a stale slot count.
    */
  private def bandConfigs: Seq[(Int, Int)] =
    (1 to K).filter(K % _ == 0).map(b => (b, K / b))

  val d17Sql: String = {
    val S = "1099511627776.0"
    val SE = "1048576.0"
    def chain(v: String, n: Int) = Seq.fill(n)(v).mkString("(", " * ", ")")
    val cfgs = bandConfigs.zipWithIndex.map { case ((b, r), i) =>
      s"""a_$i AS (
         |  SELECT $b AS b, $r AS r,
         |    CAST(coalesce(sum(CASE WHEN g >= 64
         |      THEN CAST(floor(miss * $S) AS BIGINT) ELSE 0 END), 0)
         |      AS BIGINT) AS fn_scaled,
         |    CAST(coalesce(sum(CASE WHEN g < 64
         |      THEN CAST(floor(p * $S) AS BIGINT) ELSE 0 END), 0)
         |      AS BIGINT) AS fp_scaled
         |  FROM (
         |    SELECT g, miss, 1.0 - miss AS p FROM (
         |      SELECT g, ${chain("m1", b)} AS miss FROM (
         |        SELECT g, 1.0 - jr AS m1 FROM (
         |          SELECT g, ${chain("j", r)} AS jr FROM (
         |            SELECT g, CAST(g AS DOUBLE) / 128.0 AS j FROM (
         |              SELECT unnest(range(1, 128)) AS g
         |            ) t0) t1) t2) t3) t4) t5),
         |e_$i AS (
         |  SELECT CAST(coalesce(sum(n_pairs *
         |      CAST(floor(miss * $SE) AS BIGINT)), 0) AS BIGINT)
         |    AS exp_missed_scaled
         |  FROM (
         |    SELECT n_pairs, ${chain("m1", b)} AS miss FROM (
         |      SELECT n_pairs, 1.0 - jr AS m1 FROM (
         |        SELECT n_pairs, ${chain("je", r)} AS jr FROM (
         |          SELECT n_pairs, CAST(e AS DOUBLE) / $K.0 AS je
         |          FROM hist) q1) q2) q3) q4)""".stripMargin
    }.mkString(",\n")
    val union = bandConfigs.indices.map(i =>
      s"SELECT a_$i.b, a_$i.r, a_$i.fn_scaled, a_$i.fp_scaled, " +
        s"e_$i.exp_missed_scaled FROM a_$i CROSS JOIN e_$i")
      .mkString("\n  UNION ALL ")
    s"""WITH hist AS (
       |  SELECT n_eq_slots AS e, count(*) AS n_pairs
       |  FROM ($d9Sql) d9 GROUP BY 1),
       |$cfgs,
       |plans AS (
       |  $union)
       |SELECT b, r, fn_scaled, fp_scaled, exp_missed_scaled,
       |  fn_scaled + fp_scaled =
       |    min(fn_scaled + fp_scaled) OVER () AS selected
       |FROM plans""".stripMargin
  }

  /** d8: incremental-ingest dedup — dedupe a NEW shard against a
    * PERSISTED corpus fingerprint index without rescanning the corpus
    * (the continuous-ingest shape: at 100 TB you never re-dedupe the
    * whole lake per arriving shard; you probe its index). The corpus/
    * shard split is a deterministic salted hash slice (both engines
    * derive it identically); the engine side really materializes the
    * index as parquet and probes THAT (write→read→join is on the
    * hash hook), classifying each new doc:
    *
    *   DUP_OF_CORPUS — fingerprint already indexed (wins over
    *   within-shard duplication: the corpus copy is the keeper);
    *   DUP_IN_SHARD  — first seen in this shard, but a lower doc_id
    *   in the same shard owns the fingerprint;
    *   NEW           — goes into the corpus (and its fingerprint
    *   appends to the index for the next shard).
    *
    * Scale shape: one shuffle-hash join of shard fingerprints against
    * the index (bucket the index by fp and it's s12's zero-Exchange
    * probe), one within-shard window on fp. Index maintenance is an
    * APPEND of the NEW rows — never a rewrite.
    */
  def d8IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, d, "documents")
      .withColumn("fp",
        md5(lower(regexp_replace(col("text"), "\\s+", " "))))
      .withColumn("is_new",
        pmod(xhash64(concat_ws("|", lit("incr"),
          col("doc_id").cast("string"))), lit(5L)) === 0)
    val idxDir = graft.operators.Migrate.tempDir("d8_idx")
    docs.filter(!col("is_new")).select(col("fp")).distinct()
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(idxDir)
    val index = s.read.parquet(idxDir)
      .withColumn("in_corpus", lit(true))
    docs.filter(col("is_new"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .join(index, Seq("fp"), "left_outer")
      .select(col("doc_id"),
        when(col("in_corpus"), lit("DUP_OF_CORPUS"))
          .when(col("rk") > 1, lit("DUP_IN_SHARD"))
          .otherwise(lit("NEW")).as("verdict"))
  }

  val d8Sql: String = {
    val isNew =
      s"${xhash64Sql("'incr|' || CAST(doc_id AS VARCHAR)")} % 5 = 0"
    s"""WITH dd AS (
       |  SELECT doc_id,
       |    md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
       |    $isNew AS is_new
       |  FROM documents),
       |idx AS (SELECT DISTINCT fp FROM dd WHERE NOT is_new),
       |shard AS (
       |  SELECT doc_id, fp,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
       |  FROM dd WHERE is_new)
       |SELECT s.doc_id,
       |  CASE WHEN i.fp IS NOT NULL THEN 'DUP_OF_CORPUS'
       |       WHEN s.rk > 1 THEN 'DUP_IN_SHARD'
       |       ELSE 'NEW' END AS verdict
       |FROM shard s LEFT JOIN idx i ON s.fp = i.fp""".stripMargin
  }

  /** d18: soft dedup weights — the FineWeb/RefinedWeb alternative to
    * dropping near-dups: every document stays in the corpus, but a
    * near-dup CLUSTER shares one document's worth of sampling mass —
    * weight 1/|cluster| each (singletons keep weight 1), so repeated
    * boilerplate stops dominating the training mixture without the
    * recall risk of hard deletion. Weights ride d6's connected
    * components (exact-duplicate mass is d1's job upstream, run
    * before this in the composed pipelines) and are floor-scaled
    * integers (10^6/|cluster| — one exact division per row, BIGINT
    * everywhere), with `is_canonical` marking d10's keeper so a
    * consumer can switch between soft weighting and hard dedup from
    * the same relation.
    *
    * Scale shape: the memoized cluster relation + two broadcastable
    * aggregates of it; the corpus-sized side is one left join keyed
    * on doc_id. Total added cost over d6 is ~zero.
    */
  def d18SoftDedupWeights(s: SparkSession, d: String): DataFrame = {
    val clusters = d6DupClusters(s, d)
    val sz = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        min(col("doc_id")).as("keeper"))
    Tables.load(s, d, "documents").select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left_outer")
      .join(sz, Seq("cluster_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        floor(lit(1000000.0) / coalesce(col("cluster_size"), lit(1L)))
          .cast("long").as("weight_scaled"),
        coalesce(col("keeper") === col("doc_id"), lit(true))
          .as("is_canonical"))
  }

  val d18Sql: String =
    s"""WITH clusters AS ($d6Sql),
       |sz AS (
       |  SELECT cluster_id, count(*) AS cluster_size,
       |    min(doc_id) AS keeper
       |  FROM clusters GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(sz.cluster_size, 1) AS BIGINT) AS cluster_size,
       |  CAST(floor(1000000.0 / coalesce(sz.cluster_size, 1)) AS BIGINT)
       |    AS weight_scaled,
       |  coalesce(sz.keeper = d.doc_id, TRUE) AS is_canonical
       |FROM documents d
       |LEFT JOIN clusters c ON d.doc_id = c.doc_id
       |LEFT JOIN sz ON c.cluster_id = sz.cluster_id""".stripMargin

  /** d19: incremental near-dup — d8's shard-vs-persisted-index shape
    * for the BANDED family: the corpus's band memberships are
    * materialized as a parquet index (built once, appended per
    * shard), and an arriving shard's signatures PROBE that index —
    * one equi-join on (band, sig) — instead of re-mining the whole
    * lake's pairs. Hot index buckets (> BUCKET_CAP members) are
    * dropped before the probe, the same boilerplate-bucket rule d3
    * applies, so per-probe fan-out is bounded by the cap. The same
    * deterministic hash slice as d8 defines the shard, so the
    * incremental family's "new" means one thing. Emits the (new doc,
    * corpus doc) candidates; within-shard candidates are the regular
    * d3 run over the shard, and verification above the candidates is
    * d9/d2's exact-Jaccard job — unchanged.
    *
    * Scale shape: index build is the one-off banded explode (shared
    * signature relation); each increment costs one bounded-fan-out
    * equi-join of shard bands against an at-rest table — never a
    * corpus self-join. Index maintenance is an APPEND of the shard's
    * band rows.
    */
  def d19IncrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSignatureFromIndex(shingleIndex(s, d))
    val flags = Tables.load(s, d, "documents").select(col("doc_id"),
      (pmod(xhash64(concat_ws("|", lit("incr"),
        col("doc_id").cast("string"))), lit(5L)) === 0).as("is_new"))
    val bands = bandRelation(sig).join(flags, Seq("doc_id"))
    val idxDir = graft.operators.Migrate.tempDir("d19_idx")
    bands.filter(!col("is_new")).select("doc_id", "band", "sig")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(idxDir)
    val idx = s.read.parquet(idxDir)
    val keptBuckets = idx.groupBy("band", "sig")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= BUCKET_CAP).select("band", "sig")
    val probe = bands.filter(col("is_new")).select(
      col("doc_id").as("new_doc"), col("band"), col("sig"))
    probe
      .join(idx.join(keptBuckets, Seq("band", "sig"))
        .select(col("doc_id").as("corpus_doc"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select(col("new_doc"), col("corpus_doc")).distinct()
  }

  val d19Sql: String = {
    val isNew =
      s"${xhash64Sql("'incr|' || CAST(doc_id AS VARCHAR)")} % 5 = 0"
    val bandsUnion = (0 until K / 2).map { b =>
      s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || ':' || " +
        s"CAST(mh${2 * b + 1} AS VARCHAR) AS sig FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $sigCtesSql,
       |flags AS (SELECT doc_id, $isNew AS is_new FROM documents),
       |bands AS (
       |  $bandsUnion),
       |fb AS (SELECT b.doc_id, b.band, b.sig, f.is_new
       |       FROM bands b JOIN flags f ON b.doc_id = f.doc_id),
       |idx AS (SELECT doc_id, band, sig FROM fb WHERE NOT is_new),
       |kept AS (SELECT band, sig FROM idx GROUP BY 1, 2
       |         HAVING count(*) <= $BUCKET_CAP)
       |SELECT DISTINCT p.doc_id AS new_doc, i.doc_id AS corpus_doc
       |FROM (SELECT doc_id, band, sig FROM fb WHERE is_new) p
       |JOIN idx i ON p.band = i.band AND p.sig = i.sig
       |JOIN kept k ON i.band = k.band AND i.sig = k.sig""".stripMargin
  }

  /** d10: cluster canonicalization — the keep-one decision that turns
    * d6's near-dup clusters into an actual dedup: per cluster, elect
    * the highest-quality member as survivor and account for what gets
    * dropped. Quality is all-integer (distinct-word count, then char
    * length, then lowest doc_id) so both engines rank identically —
    * no IEEE scores in the ordering. Scale shape: the election is ONE
    * partial-aggregable `max(struct(...))` arg-max on cluster_id —
    * map-side combine elects per-partition winners before the shuffle,
    * so the hot path moves one candidate row per (partition, cluster),
    * never the cluster membership; the quality features are per-row
    * projections computed pre-shuffle. The oracle re-derives the
    * clusters via its recursive CTE and re-ranks with a window — a
    * different algorithm on both halves, so agreement pins the
    * election rule, not the implementation.
    */
  def d10ClusterCanonical(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents").select(
      col("doc_id"),
      size(array_distinct(split(col("text"), " ")))
        .cast("long").as("n_uniq"),
      col("n_chars"))
    d6DupClusters(s, d).join(docs, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("n_uniq"), col("n_chars"),
          (-col("doc_id")).as("neg_id"))).as("w"),
        count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("chars_total"))
      .select(col("cluster_id"),
        (-col("w.neg_id")).as("survivor_id"),
        col("n_members"),
        (col("chars_total") - col("w.n_chars")).as("chars_dropped"))
  }

  val d10Sql: String =
    s"""WITH RECURSIVE pairs AS ($d3Sql),
       |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(s, t) AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
       |clusters AS (
       |  SELECT s AS doc_id, least(s, min(t)) AS cluster_id
       |  FROM reach GROUP BY s),
       |m AS (
       |  SELECT c.cluster_id, c.doc_id,
       |    CAST(len(list_distinct(string_split(d.text, ' '))) AS BIGINT)
       |      AS n_uniq,
       |    d.n_chars
       |  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY n_uniq DESC, n_chars DESC, doc_id ASC) AS rn
       |  FROM m),
       |agg AS (
       |  SELECT cluster_id, count(*) AS n_members,
       |    CAST(sum(n_chars) AS BIGINT) AS chars_total
       |  FROM m GROUP BY 1)
       |SELECT a.cluster_id, r.doc_id AS survivor_id, a.n_members,
       |  a.chars_total - r.n_chars AS chars_dropped
       |FROM agg a JOIN rk r ON a.cluster_id = r.cluster_id AND r.rn = 1""".stripMargin

  /** d12 window width (tokens). The reference ExactSubstr uses 50
    * BPE tokens over web documents; this corpus averages ~54
    * whitespace tokens per doc (min 10), so 8 keeps the detector
    * meaningful at test scale while the machinery is width-agnostic.
    */
  private val SUB_W = 8

  /** d12 hot-window cap: a window hash shared by more than SUB_CAP
    * occurrences is boilerplate (licenses, headers) — the d2 DF_CAP
    * argument verbatim: without the cut one hot 8-gram in 10⁶ docs
    * fans the dup join out a million ways; with it, per-hash fan-out
    * is bounded, independent of corpus size. Boilerplate past the cap
    * is t13/pipe4's job (repetition gates), not the passage detector.
    */
  private val SUB_CAP = 256

  /** d12: exact-substring duplicated-passage detector — the
    * suffix-array ExactSubstr shape (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better") re-expressed as
    * relational algebra: a suffix array is unaffordable distributed,
    * but its OUTPUT — maximal duplicated token spans of length ≥ W —
    * is reachable with positional window hashes. Slide a W-token
    * window over every doc, hash each window (one 60-bit md5 slot,
    * both engines identical), count corpus-wide occurrences, keep
    * positions whose window repeats anywhere (within-doc repeats
    * included, as in the reference algorithm), then merge overlapping
    * windows into maximal spans: two windows [i,i+W) and [j,j+W)
    * with j−i ≤ W overlap or touch, so a span break is a gap > W —
    * gaps-and-islands with one lag + one running sum, both
    * partitioned by doc_id.
    *
    * Scale shape: the positional window relation is linear in corpus
    * tokens (same cost class as the d2/d3 shingle index); the
    * occurrence count is one partial-aggregable groupBy on an 8-byte
    * hash; ONLY duplicated positions reach the per-doc windows, whose
    * partitions are bounded by document length — no global sort
    * anywhere. The SUB_CAP filter bounds the dup-join fan-out (see
    * above). Per-doc span arithmetic (max−min+W) is exact interval
    * union because within a span consecutive kept positions are ≤ W
    * apart by construction. All-integer output; `flagged` is the ≥20%
    * dup-coverage gate as an integer cross-multiply (dup·5 ≥ n), no
    * IEEE division.
    */
  /** d12's per-doc result is memoized per (session, input): pipe7
    * folds the same relation into the dataset card, and the span
    * pipeline (positional hashing + dup filter + windows) is the
    * expensive part while the output is one bounded row per doc —
    * exactly the storage ≪ recompute trade the shingle index makes.
    */
  val d12ExactSubstring: (SparkSession, String) => DataFrame =
    Memo.memoized("dedup.d12ExactSubstring")(d12Uncached)

  private def d12Uncached(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = SUB_W
    val docs = Tables.load(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("w"))
    val cells = (0 until W).map(j => s"element_at(w, i + $j)")
      .mkString(", ")
    val pos = docs
      .select(col("doc_id"),
        explode(expr(
          s"if(size(w) >= $W, sequence(1, size(w) - ${W - 1}), " +
            "array())")).as("i"),
        col("w"))
      .select(col("doc_id"), col("i").cast("long").as("i"),
        xhash64(expr(s"concat_ws(' ', $cells)")).as("h"))
    val dup = pos.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= SUB_CAP)
      .select("h")
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    val spans = pos.join(dup, "h")
      .withColumn("brk",
        // NULL lag (first kept position) falls to otherwise(1):
        // every doc's first duplicated window opens a span
        when(col("i") - lag(col("i"), 1).over(byDoc) <= W, 0L)
          .otherwise(1L))
      .withColumn("span_id", sum(col("brk")).over(byDoc))
      .groupBy("doc_id", "span_id")
      .agg((max(col("i")) - min(col("i")) + W).as("span_tokens"))
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("dup_tokens"),
        max(col("span_tokens")).as("max_span_tokens"))
    docs.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)) * 5 >= col("n_tokens"))
          .cast("long").as("flagged"))
  }

  val d12Sql: String = {
    val W = SUB_W
    val gram = (0 until W).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |posx AS (
       |  SELECT doc_id, unnest(range(1, greatest(len(w) - ${W - 2}, 1)))
       |    AS i, w
       |  FROM docs),
       |pos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i,
       |    ${xhash64Sql(gram)} AS h
       |  FROM posx),
       |dup AS (SELECT h FROM pos GROUP BY 1
       |        HAVING count(*) > 1 AND count(*) <= $SUB_CAP),
       |dpos AS (
       |  SELECT p.doc_id, p.i,
       |    CASE WHEN p.i - lag(p.i) OVER
       |        (PARTITION BY p.doc_id ORDER BY p.i) <= $W
       |      THEN 0 ELSE 1 END AS brk
       |  FROM pos p JOIN dup USING (h)),
       |sp AS (
       |  SELECT doc_id, i,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS span_id
       |  FROM dpos),
       |spans AS (
       |  SELECT doc_id, span_id, max(i) - min(i) + $W AS span_tokens
       |  FROM sp GROUP BY 1, 2),
       |per_doc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
       |    CAST(max(span_tokens) AS BIGINT) AS max_span_tokens
       |  FROM spans GROUP BY 1)
       |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
       |  coalesce(p.n_spans, 0) AS n_spans,
       |  coalesce(p.dup_tokens, 0) AS dup_tokens,
       |  coalesce(p.max_span_tokens, 0) AS max_span_tokens,
       |  CAST(CASE WHEN coalesce(p.dup_tokens, 0) * 5 >= len(d.w)
       |    THEN 1 ELSE 0 END AS BIGINT) AS flagged
       |FROM docs d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin
  }

  /** pipe8: leakage-aware train/val/test split — the eval-integrity
    * step after dedup: a naive per-doc hash split leaks near-
    * duplicate content across the train/eval boundary (the exact
    * failure t7 hunts AFTER the fact). Here the split unit is the
    * near-dup CLUSTER: every doc keys by its d6 cluster id (its own
    * id when unclustered), the group hash buckets 10 ways (0 → test,
    * 1 → val, else train), so whole clusters land in one split BY
    * CONSTRUCTION. The output carries the proof: the number of d3
    * candidate pairs crossing splits — structurally zero because
    * every candidate pair is, by definition, inside one d6 cluster;
    * both engines COMPUTE it from their own independently derived
    * clusters (iterative min-label propagation vs recursive CTE), so
    * a split rule that ever broke cluster atomicity would surface as
    * a nonzero count and a hash mismatch, not silently.
    *
    * Scale shape: one left join of the corpus onto the (much
    * smaller) cluster relation — both memoized — one hash, one
    * partial-aggregable groupBy; the leakage audit joins the pair
    * list (already bounded by d3's band/cap design) to two id→split
    * projections, never to payloads. The 1-row audit result rides a
    * broadcast crossJoin (the a19 pattern, whitelisted).
    */
  def pipe8LeakageSplit(s: SparkSession, d: String): DataFrame = {
    val assigned = Tables.load(s, d, "documents").select("doc_id")
      .join(d6DupClusters(s, d), Seq("doc_id"), "left_outer")
      .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", pmod(xhash64(concat_ws("|",
        lit("split"), col("grp").cast("string"))), lit(10L)))
      .withColumn("split",
        when(col("bucket") === 0, "test")
          .when(col("bucket") === 1, "val").otherwise("train"))
    val pairs = d3MinhashLsh(s, d)
    val xs = pairs
      .join(assigned.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), "doc_a")
      .join(assigned.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), "doc_b")
      .agg(coalesce(sum(when(col("split_a") =!= col("split_b"), 1L)
        .otherwise(0L)), lit(0L)).as("n_cross_split_pairs"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_groups"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L))
          .as("n_clustered_docs"))
      .crossJoin(broadcast(xs))
  }

  val pipe8Sql: String =
    s"""WITH RECURSIVE pairs AS ($d3Sql),
       |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(s, t) AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
       |clusters AS (
       |  SELECT s AS doc_id, least(s, min(t)) AS cluster_id
       |  FROM reach GROUP BY s),
       |assigned AS (
       |  SELECT doc_id, cluster_id, grp,
       |    CASE WHEN bucket = 0 THEN 'test'
       |         WHEN bucket = 1 THEN 'val' ELSE 'train' END AS split
       |  FROM (
       |    SELECT d.doc_id, c.cluster_id,
       |      coalesce(c.cluster_id, d.doc_id) AS grp,
       |      ${xhash64Sql("'split|' || CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)")}
       |        % 10 AS bucket
       |    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id) b),
       |audit AS (
       |  SELECT CAST(coalesce(sum(CASE WHEN a.split <> b.split
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross_split_pairs
       |  FROM pairs p
       |  JOIN assigned a ON p.doc_a = a.doc_id
       |  JOIN assigned b ON p.doc_b = b.doc_id)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
       |  CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_clustered_docs,
       |  (SELECT n_cross_split_pairs FROM audit) AS n_cross_split_pairs
       |FROM assigned GROUP BY 1""".stripMargin

  /** d20: cross-source overlap matrix — pairwise shingle-set Jaccard
    * between SOURCES (crawls, dumps, curated sets), the accounting a
    * mixture designer runs before fixing sampling weights: two
    * sources that are 40% the same content would be double-counted
    * by naive per-source weights (the RedPajama/CC-dumps problem —
    * successive dumps overlap heavily and must be discounted or
    * cross-deduped). Distinct from d1/d2, which find DOCUMENT pairs:
    * this aggregates identity up to the source level and reports a
    * bounded S×S matrix.
    *
    * Scale shape: reuses THE memoized shingle index (one tokenize +
    * digest pass per session), reduces it to distinct (source,
    * shingle) — partial-aggregable, keys are 8-byte hashes — then
    * one self-equi-join on the shingle whose fan-out is bounded by
    * S² per shingle with S = #sources (dozens, not documents), and a
    * partial-aggregable pair count. No DF cap needed: the fan-out
    * bound is structural. Output is the complete S(S−1)/2 matrix —
    * disjoint pairs appear explicitly with jaccard 0 (only sources
    * with at least one shingle participate); the Jaccard is reported
    * integer-scaled (exact integer inputs, one IEEE-exact mul/div
    * chain — the t17/a40 cross-engine discipline).
    */
  def d20SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val srcOf = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("source"))
    val sh = shingleIndex(s, d).select(col("doc_id"), col("h1").as("shingle"))
      .join(srcOf, "doc_id")
      .select(col("source"), col("shingle")).distinct()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"), "shingle")
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    // the FULL S(S−1)/2 pair frame, disjoint pairs included — a
    // mixture designer reading the matrix needs the explicit
    // jaccard=0 row, not an absence (review finding). The pair frame
    // crosses the per-source size relation with itself: an aggregate
    // output bounded by the source count, so the broadcast
    // nested-loop is over dozens × dozens rows (whitelisted in
    // PlanAudit), never corpus-sized.
    val pairs = sizes.select(col("source").as("src_a"),
        col("n_sh").as("n_a"))
      .crossJoin(broadcast(sizes.select(col("source").as("src_b"),
        col("n_sh").as("n_b"))))
      .filter(col("src_a") < col("src_b"))
    pairs
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jaccard_x1e6",
        floor(col("n_inter").cast("double") * 1000000.0 /
          col("n_union").cast("double")).cast("long"))
      .select("src_a", "src_b", "n_inter", "n_a", "n_b", "n_union",
        "jaccard_x1e6")
  }

  val d20Sql: String =
    s"""WITH sh0 AS ($shinglesSql),
       |ss AS (SELECT DISTINCT doc.source,
       |         ${xhash64Sql("sh0.shingle")} AS shingle
       |       FROM sh0 JOIN documents doc USING (doc_id)),
       |sizes AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY 1),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
       |  FROM ss a JOIN ss b ON a.shingle = b.shingle
       |  WHERE a.source < b.source GROUP BY 1, 2),
       |pairs AS (
       |  SELECT sa.source AS src_a, sb.source AS src_b,
       |    sa.n_sh AS n_a, sb.n_sh AS n_b
       |  FROM sizes sa JOIN sizes sb ON sa.source < sb.source)
       |SELECT p.src_a, p.src_b,
       |  coalesce(i.n_inter, 0) AS n_inter, p.n_a, p.n_b,
       |  p.n_a + p.n_b - coalesce(i.n_inter, 0) AS n_union,
       |  CAST(floor(CAST(coalesce(i.n_inter, 0) AS DOUBLE) * 1000000.0 /
       |    CAST(p.n_a + p.n_b - coalesce(i.n_inter, 0) AS DOUBLE))
       |    AS BIGINT) AS jaccard_x1e6
       |FROM pairs p
       |LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b""".stripMargin

  /** d21: per-document NOVELTY profile — what fraction of a doc's
    * shingles appear NOWHERE else in the corpus (df = 1 over the
    * shared inverted index). The curation signal between exact dup
    * (novelty 0 for every copy past the first) and boilerplate
    * (template-heavy docs score low without being duplicates of any
    * ONE doc — the case the pair miners structurally miss because no
    * single pair crosses their thresholds); mixture builds upweight
    * high-novelty docs the same way soft-dedup (d18) downweights
    * cluster mass. Emits per doc (n_sh, n_unique, novelty ×1e6,
    * band); docs under one shingle (< 3 words) are absent, as in
    * every shingle consumer.
    *
    * Scale shape: rides THE memoized shingle index — one
    * partial-aggregable df groupBy, one hash equi-join back, one
    * per-doc groupBy. No pair relation is ever formed: novelty is
    * linear in the index where the dedup miners are quadratic per
    * bucket.
    */
  def d21NoveltyProfile(s: SparkSession, d: String): DataFrame = {
    val sh = shingleIndex(s, d).select(col("doc_id"), col("h1").as("shingle"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_x1e6",
        floor(col("n_unique").cast("double") * 1000000.0 /
          col("n_sh").cast("double")).cast("long"))
      .withColumn("band",
        when(col("novelty_x1e6") >= 900000L, lit("HIGH"))
          .when(col("novelty_x1e6") >= 500000L, lit("MEDIUM"))
          .otherwise(lit("LOW")))
  }

  val d21Sql: String =
    s"""WITH sh0 AS ($shinglesSql),
       |sh AS (SELECT doc_id, ${xhash64Sql("shingle")} AS shingle FROM sh0),
       |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
       |per AS (
       |  SELECT doc_id, count(*) AS n_sh,
       |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_unique
       |  FROM sh JOIN dfreq USING (shingle) GROUP BY 1)
       |SELECT doc_id, n_sh, n_unique,
       |  CAST(floor(CAST(n_unique AS DOUBLE) * 1000000.0 /
       |    CAST(n_sh AS DOUBLE)) AS BIGINT) AS novelty_x1e6,
       |  CASE WHEN CAST(floor(CAST(n_unique AS DOUBLE) * 1000000.0 /
       |      CAST(n_sh AS DOUBLE)) AS BIGINT) >= 900000 THEN 'HIGH'
       |    WHEN CAST(floor(CAST(n_unique AS DOUBLE) * 1000000.0 /
       |      CAST(n_sh AS DOUBLE)) AS BIGINT) >= 500000 THEN 'MEDIUM'
       |    ELSE 'LOW' END AS band
       |FROM per""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("d21_novelty_profile", d21NoveltyProfile, d21Sql),
    Query("d1_exact_dedup", d1ExactDedup, d1Sql),
    Query("d2_ngram_jaccard", d2NgramJaccard, d2Sql),
    Query("d3_minhash_lsh", d3MinhashLsh, d3Sql),
    Query("d4_simhash", d4Simhash, d4Sql),
    Query("d4b_simhash_pairs", d4bSimhashPairs, d4bSql),
    Query("d6_dup_clusters", d6DupClusters, d6Sql),
    Query("d8_incremental_dedup", d8IncrementalDedup, d8Sql),
    Query("d9_estimator_calibration", d9EstimatorCalibration, d9Sql),
    Query("d17_band_planner", d17BandPlanner, d17Sql),
    Query("d18_soft_dedup_weights", d18SoftDedupWeights, d18Sql),
    Query("d19_incremental_near_dup", d19IncrementalNearDup, d19Sql),
    Query("d20_source_overlap", d20SourceOverlap, d20Sql),
    Query("d10_cluster_canonical", d10ClusterCanonical, d10Sql),
    Query("d12_exact_substring", d12ExactSubstring, d12Sql),
    Query("d13_containment_pairs", d13ContainmentPairs, d13Sql),
    Query("d14_fuzzy_name_pairs", d14FuzzyNamePairs, d14Sql),
    Query("d15_streaming_near_dup", d15StreamingNearDup, d15Sql),
    Query("d16_streaming_exact_dedup", d16StreamingExactDedup, d16Sql),
    Query("pipe8_leakage_split", pipe8LeakageSplit, pipe8Sql))
}
