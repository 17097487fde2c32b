package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.functions.Norm.xhash64

/** Text-analysis operators for training-data pipelines over the
  * `documents` table: token counting, quality scoring, language ID,
  * and document fingerprinting.
  *
  * Everything is per-row, codegen-friendly `functions._` — no UDFs, no
  * shuffles except the final aggregations; at 100 TB these run as one
  * scan-project pass over the corpus.
  */
object TextAnalysis {

  /** Whitespace word array (the corpus is single-space separated). */
  def words(c: Column): Column = split(c, " ")

  /** Distinct word k-gram shingles — the unit for Jaccard/MinHash
    * dedup (k=3) and decontamination (k=5). Empty for docs under k
    * words: the `if` guard is required because Spark's
    * `sequence(1, 0)` yields the DESCENDING array [1, 0] (not empty),
    * and `element_at(w, 0)` then throws at runtime on any short doc.
    * ONE generator per dialect — the two k values must never drift in
    * guard or window arithmetic.
    */
  def gramExprK(k: Int, distinct: Boolean): String = {
    val cells = (0 until k).map(j => s"element_at(w, i + $j)")
      .mkString(", ")
    val grams =
      s"""transform(
         |  if(size(w) >= $k, sequence(1, size(w) - ${k - 1}), array()),
         |  i -> concat_ws(' ', $cells))""".stripMargin
    if (distinct) s"array_distinct($grams)" else grams
  }

  // NB: no generated line may START with '||' — these strings are
  // re-embedded in stripMargin'd outer SQL, which would eat the
  // first '|'
  def gramSqlDuckK(k: Int, distinct: Boolean): String = {
    val cells = (0 until k).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    val grams =
      s"""list_transform(
         |  range(1, greatest(len(w) - ${k - 2}, 1)),
         |  i -> $cells)""".stripMargin
    if (distinct) s"list_distinct($grams)" else grams
  }

  def shingleExprK(k: Int): String = gramExprK(k, distinct = true)
  def shingleSqlDuckK(k: Int): String = gramSqlDuckK(k, distinct = true)

  val shingleExpr: String = shingleExprK(3)
  val shingleSqlDuck: String = shingleSqlDuckK(3)

  /** Bigrams WITH multiplicity — the repetition-gate unit (t13,
    * pipe4); the dedup shingles above are distinct sets.
    */
  private val bigramExpr: String = gramExprK(2, distinct = false)
  private val bigramSqlDuck: String = gramSqlDuckK(2, distinct = false)

  // ------------------------------------------------------------- queries

  /** t3: token counting — whitespace tokens and BPE-ish subword units
    * (letter runs / single digits / punctuation marks).
    */
  def t3TokenCount(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents").select(
      col("doc_id"),
      size(words(col("text"))).as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0))).as("bpe_ish_tokens"))

  val t3Sql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
      |    AS bpe_ish_tokens
      |FROM documents""".stripMargin

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopwordsSql = stopwords.map(w => s"'$w'").mkString("(", ",", ")")

  /** t2: quality scoring — length, word count, uniq ratio, stopword
    * ratio, average word length. Ratios are single double divisions of
    * exact ints (deterministic IEEE, cross-engine stable).
    */
  def t2QualityScore(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .withColumn("w", words(col("text")))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(col("w")).as("n_words"),
        size(array_distinct(col("w"))).as("n_uniq"),
        size(filter(col("w"), x => x.isInCollection(stopwords))).as("n_stop"))
      .withColumn("uniq_ratio",
        col("n_uniq").cast("double") / col("n_words"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_words"))
      .withColumn("quality_band",
        when(col("n_words") >= 20 && col("uniq_ratio") >= 0.3, lit("HIGH"))
          .when(col("n_words") >= 10, lit("MEDIUM"))
          .otherwise(lit("LOW")))

  val t2Sql: String =
    s"""SELECT doc_id, n_chars, n_words, n_uniq, n_stop,
       |  CAST(n_uniq AS DOUBLE) / n_words AS uniq_ratio,
       |  CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
       |  CASE WHEN n_words >= 20 AND CAST(n_uniq AS DOUBLE) / n_words >= 0.3
       |         THEN 'HIGH'
       |       WHEN n_words >= 10 THEN 'MEDIUM'
       |       ELSE 'LOW' END AS quality_band
       |FROM (
       |  SELECT doc_id, length(text) AS n_chars,
       |    len(string_split(text, ' ')) AS n_words,
       |    len(list_distinct(string_split(text, ' '))) AS n_uniq,
       |    len(list_filter(string_split(text, ' '),
       |        x -> x IN $stopwordsSql)) AS n_stop
       |  FROM documents) t""".stripMargin

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of"),
    "es" -> Seq("el", "la", "los", "que"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "les", "et", "une"),
    "zh" -> Seq("的", "是", "了", "在"))

  /** t1: language ID — n-gram-free marker-word heuristic: score each
    * language by marker hits, argmax with fixed precedence, 'und' when
    * nothing matches. (The corpus vocabulary is English-ish regardless
    * of its `lang` label; the point is the deterministic scoring
    * pipeline, not label recovery.)
    */
  def t1LangId(s: SparkSession, d: String): DataFrame = {
    val base = Tables.load(s, d, "documents")
      .withColumn("w", words(col("text")))
    val scored = langMarkers.foldLeft(base) { case (df, (lang, marks)) =>
      df.withColumn(s"score_$lang",
        size(filter(col("w"), x => x.isInCollection(marks))))
    }
    val best = langMarkers.map { case (lang, _) =>
      struct(col(s"score_$lang").as("score"), lit(lang).as("lang"))
    }
    // argmax by (score, reverse precedence): greatest() picks the last
    // on ties, so order langs reverse-alphabetically for a fixed rule
    val pick = greatest(best.sortBy(_ => 0).reverse: _*)
    scored.select(col("doc_id"), col("lang").as("labeled_lang"),
      when(pick.getField("score") === 0, lit("und"))
        .otherwise(pick.getField("lang")).as("predicted_lang"),
      pick.getField("score").as("marker_hits"))
  }

  val t1Sql: String = {
    val scores = langMarkers.map { case (lang, marks) =>
      val set = marks.map(m => s"'$m'").mkString("(", ",", ")")
      s"len(list_filter(string_split(text, ' '), x -> x IN $set)) AS score_$lang"
    }.mkString(",\n    ")
    val mx = langMarkers.map { case (lang, _) => s"score_$lang" }
      .mkString("greatest(", ", ", ")")
    // same tiebreak as the Spark struct-greatest: among max-score
    // langs, the lexicographically largest lang string wins
    val pick = langMarkers.map(_._1).sorted.reverse
      .map(lang => s"WHEN score_$lang = mx THEN '$lang'")
      .mkString("CASE ", " ", " END")
    s"""SELECT doc_id, lang AS labeled_lang,
       |  CASE WHEN mx = 0 THEN 'und' ELSE $pick END AS predicted_lang,
       |  mx AS marker_hits
       |FROM (
       |  SELECT *, $mx AS mx FROM (
       |    SELECT doc_id, lang, text,
       |      $scores
       |    FROM documents) s) t""".stripMargin
  }

  /** t4: document fingerprinting — canonical-text md5 plus a k=1
    * MinHash (min salted word hash): equal fingerprints ⇒ exact dup,
    * equal min-hash ⇒ near-dup candidate.
    */
  def t4Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .withColumn("canon", lower(regexp_replace(col("text"), "\\s+", " ")))
      .select(col("doc_id"),
        md5(col("canon")).as("fingerprint"),
        aggregate(transform(words(col("canon")), w => xhash64(w)),
          lit(Long.MaxValue),
          (acc, h) => least(acc, h)).as("min_word_hash"))

  val t4Sql: String =
    s"""SELECT doc_id, md5(canon) AS fingerprint,
       |  list_min(list_transform(string_split(canon, ' '),
       |    w -> ${Norm.xhash64Sql("w")})) AS min_word_hash
       |FROM (SELECT doc_id,
       |        lower(regexp_replace(text, '\\s+', ' ', 'g')) AS canon
       |      FROM documents) t""".stripMargin

  // ------------------------------------------------------------- registry

  /** t5: winnowed rolling-hash fingerprints (the MOSS shape): a
    * Rabin-Karp polynomial hash (base 31) over every 5-char window of
    * the canonical text, then winnowing — the minimum hash of each
    * run of 4 consecutive window hashes — and the distinct minima are
    * the document's fingerprint set. Near-dup docs share most
    * fingerprints even under edits, because a local edit only
    * perturbs the windows it touches. Each ascii() term is cast to
    * BIGINT BEFORE its weight multiply: Spark/DuckDB ascii() return
    * the full Unicode codepoint (≤ 0x10FFFF), so 32-bit products
    * overflow from codepoint 2326 up — in int64 the worst window sum
    * is ~5·10¹², overflow-free and identical in both engines, no
    * modulus needed. Output is the set size and an order-insensitive
    * checksum (sum), the join-able form.
    */
  def t5WinnowFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .withColumn("canon", lower(regexp_replace(col("text"), "\\s+", " ")))
      .withColumn("hs", expr(
        """CASE WHEN length(canon) < 5 THEN cast(array() as array<bigint>)
          |ELSE transform(sequence(1, length(canon) - 4), i ->
          |  cast(ascii(substr(canon, i, 1)) as bigint) * 923521 +
          |  cast(ascii(substr(canon, i + 1, 1)) as bigint) * 29791 +
          |  cast(ascii(substr(canon, i + 2, 1)) as bigint) * 961 +
          |  cast(ascii(substr(canon, i + 3, 1)) as bigint) * 31 +
          |  cast(ascii(substr(canon, i + 4, 1)) as bigint)) END""".stripMargin))
      .withColumn("fps", expr(
        """CASE WHEN size(hs) < 4 THEN array_distinct(hs)
          |ELSE array_distinct(transform(sequence(1, size(hs) - 3), p ->
          |  array_min(slice(hs, p, 4)))) END""".stripMargin))
      .select(col("doc_id"), size(col("fps")).as("n_fingerprints"),
        expr("aggregate(fps, 0L, (a, x) -> a + x)").as("fp_checksum"))

  val t5Sql: String =
    """WITH c AS (
      |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS canon
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    CASE WHEN length(canon) < 5 THEN []
      |    ELSE list_transform(range(1, length(canon) - 3), i ->
      |      CAST(ascii(substr(canon, CAST(i AS INT), 1)) AS BIGINT) * 923521 +
      |      CAST(ascii(substr(canon, CAST(i + 1 AS INT), 1)) AS BIGINT) * 29791 +
      |      CAST(ascii(substr(canon, CAST(i + 2 AS INT), 1)) AS BIGINT) * 961 +
      |      CAST(ascii(substr(canon, CAST(i + 3 AS INT), 1)) AS BIGINT) * 31 +
      |      CAST(ascii(substr(canon, CAST(i + 4 AS INT), 1)) AS BIGINT)) END AS hs
      |  FROM c),
      |f AS (
      |  SELECT doc_id,
      |    CASE WHEN len(hs) < 4 THEN list_distinct(hs)
      |    ELSE list_distinct(list_transform(range(1, len(hs) - 2), p ->
      |      list_min(hs[CAST(p AS INT):CAST(p + 3 AS INT)]))) END AS fps
      |  FROM h)
      |SELECT doc_id, len(fps) AS n_fingerprints,
      |  CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_checksum
      |FROM f""".stripMargin

  /** t6: deterministic hash sampling — the reproducible way to cut an
    * eval/holdout slice from a 100 TB corpus. `TABLESAMPLE`/`.sample`
    * are seed-and-partitioning dependent (a repartition changes the
    * sample!); hashing a stable key is not: the same doc lands in the
    * same bucket on any cluster, any partitioning, any engine — the
    * oracle recomputes the identical sample from the same md5-derived
    * hash family ([[Norm.xhash64]]). The salt prefix decorrelates this
    * sample from every other use of the doc_id hash (d1's dedup keys,
    * d3's MinHash) — without it, "5% sample" would systematically
    * overlap other hash-keyed decisions. Per-row, codegen'd, pushed
    * after the scan; no shuffle at all.
    */
  def t6HashSample(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .withColumn("bucket",
        pmod(xhash64(concat_ws("|", lit("smpl"), col("doc_id").cast("string"))),
          lit(100L)))
      .filter(col("bucket") < 5)
      .select(col("doc_id"), col("lang"), col("bucket"))

  val t6Sql: String = {
    val h = Norm.xhash64Sql("'smpl|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, lang, bucket FROM (
       |  SELECT doc_id, lang, $h % 100 AS bucket
       |  FROM documents) t
       |WHERE bucket < 5""".stripMargin
  }

  /** t12: context-window chunking — split each document into
    * fixed-size token windows with overlap (stride < window), the
    * preprocessing step that turns variable-length docs into
    * training-context rows. Chunk starts are a deterministic
    * arithmetic sequence, the slice is array_slice + join — one
    * explode, no shuffle until a consumer aggregates; chunk ids are
    * (doc_id, chunk_idx), stable under any partitioning. Windows
    * cover every token: the last window starts at the final stride
    * position even when short (standard tail handling — truncating
    * it would drop document suffixes from training).
    */
  def t12ContextChunks(s: SparkSession, d: String): DataFrame = {
    val window = 64
    val stride = 48
    Tables.load(s, d, "documents")
      .withColumn("w", words(col("text")))
      .withColumn("n", size(col("w")))
      .withColumn("chunk_idx", explode(expr(
        s"sequence(0, greatest(cast(ceil((n - $window) / $stride.0) as int), 0))")))
      .withColumn("start", col("chunk_idx") * stride + 1)
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"slice(w, start, $window)").as("cw"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("cw")).as("n_tokens"),
        element_at(col("cw"), 1).as("first_word"),
        element_at(col("cw"), -1).as("last_word"))
  }

  val t12Sql: String =
    """SELECT doc_id, chunk_idx,
      |  len(cw) AS n_tokens, cw[1] AS first_word, cw[-1] AS last_word
      |FROM (
      |  SELECT doc_id, chunk_idx,
      |    w[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)] AS cw
      |  FROM (
      |    SELECT doc_id, w,
      |      unnest(range(0, greatest(CAST(ceil((len(w) - 64) / 48.0)
      |        AS INT), 0) + 1)) AS chunk_idx
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w
      |          FROM documents) t0) t1) t2""".stripMargin

  /** t13: repetition filter — per-document duplicate-bigram fraction
    * (the Gopher/MassiveText-style repetitive-content gate: docs whose
    * n-gram mass is dominated by repeats are boilerplate or loops).
    * Bigrams are counted WITH multiplicity (unlike the dedup shingles,
    * which are distinct sets); dup_fraction = (occurrences − distinct)
    * / occurrences — exact integers and one IEEE division, stable
    * under any partitioning. One explode + two partial-aggregable
    * group-bys. TOTAL over the corpus: docs too short to have a
    * bigram come back with dup_fraction 0.0 / unflagged (an
    * explode-dropped row would make a `join + !flagged` consumer
    * silently discard every short doc).
    */
  def t13RepetitionFilter(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents")
    val stats = docs
      .withColumn("w", words(col("text")))
      .withColumn("g", explode(expr(bigramExpr)))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("nb"), count(lit(1)).as("nd"))
    docs.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("nd"), lit(0L)).as("n_distinct"),
        coalesce((col("nb") - col("nd")).cast("double") / col("nb"),
          lit(0.0)).as("dup_fraction"))
      .withColumn("flagged", col("dup_fraction") > 0.2)
  }

  val t13Sql: String =
    s"""WITH stats AS (
       |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS nb,
       |    count(*) AS nd
       |  FROM (
       |    SELECT doc_id, g, count(*) AS cnt FROM (
       |      SELECT doc_id, unnest($bigramSqlDuck) AS g
       |      FROM (SELECT doc_id, string_split(text, ' ') AS w
       |            FROM documents) t0) t1
       |    GROUP BY 1, 2) t2
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(nb, 0) AS n_bigrams,
       |  coalesce(nd, 0) AS n_distinct,
       |  coalesce(CAST(nb - nd AS DOUBLE) / nb, 0.0) AS dup_fraction,
       |  coalesce(CAST(nb - nd AS DOUBLE) / nb, 0.0) > 0.2 AS flagged
       |FROM documents d LEFT JOIN stats ON d.doc_id = stats.doc_id""".stripMargin

  /** pipe1: the end-to-end training-data pipeline — the composition
    * the individual t/d operators exist for: canonicalize → quality
    * gate (word count + uniq ratio, t2's metrics) → exact dedup on
    * canonical fingerprint keeping the lowest doc_id (d1's rule) →
    * per-language corpus accounting. One scan, one window shuffle for
    * the dedup, one partial-aggregated groupBy; no driver-side data
    * movement — the whole pipeline is a single declarative plan, so at
    * 100 TB Catalyst fuses the canonicalize+gate into the scan
    * projection and the only wide stages are the two keyed exchanges.
    */
  /** Shared curation-gate constants and builders — pipe1 and pipe4
    * MUST agree on which docs survive canonicalize + quality gate +
    * dedup; one copy per dialect so a threshold or tie-break change
    * cannot fork the two pipelines.
    */
  private[functions] val MinWords = 10
  private[functions] val MinUniqRatio = 0.3

  private def canonBase(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .withColumn("canon", lower(regexp_replace(col("text"), "\\s+", " ")))
      .withColumn("w", words(col("canon")))
      .withColumn("n_words", size(col("w")))
      .withColumn("uniq_ratio",
        size(array_distinct(col("w"))).cast("double") / col("n_words"))
      .withColumn("is_eval",
        pmod(xhash64(concat_ws("|", lit("eval"),
          col("doc_id").cast("string"))), lit(50L)) === 0)

  private def qualityGate(df: DataFrame): DataFrame =
    df.filter(col("n_words") >= MinWords &&
      col("uniq_ratio") >= MinUniqRatio)

  private def dedupCanon(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("rn", row_number().over(
      Window.partitionBy(md5(col("canon"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
  }

  /** SQL mirror of [[canonBase]] (CTEs `b`/`m`) + the gate predicate. */
  private val canonCteSql: String =
    s"""b AS (
       |  SELECT doc_id, lang,
       |    lower(regexp_replace(text, '\\s+', ' ', 'g')) AS canon,
       |    ${Norm.xhash64Sql("'eval|' || CAST(doc_id AS VARCHAR)")} % 50 = 0
       |      AS is_eval
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, lang, canon, is_eval,
       |    string_split(canon, ' ') AS w,
       |    len(string_split(canon, ' ')) AS n_words,
       |    CAST(len(list_distinct(string_split(canon, ' '))) AS DOUBLE)
       |      / len(string_split(canon, ' ')) AS uniq_ratio
       |  FROM b)""".stripMargin

  private val gateSql: String =
    s"n_words >= $MinWords AND uniq_ratio >= $MinUniqRatio"

  def pipe1TrainingPipeline(s: SparkSession, d: String): DataFrame =
    dedupCanon(qualityGate(canonBase(s, d)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_tokens"),
        sum(length(col("canon"))).as("total_chars"))

  val pipe1Sql: String =
    s"""WITH $canonCteSql,
       |k AS (SELECT * FROM m WHERE $gateSql),
       |dd AS (
       |  SELECT *, row_number() OVER (PARTITION BY md5(canon)
       |                               ORDER BY doc_id) AS rn
       |  FROM k)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS total_tokens,
       |  CAST(sum(length(canon)) AS BIGINT) AS total_chars
       |FROM dd WHERE rn = 1 GROUP BY lang""".stripMargin

  /** Word 5-gram hashes for contamination checks — longer than d2's
    * 3-gram dedup shingles on purpose: decontamination wants high
    * precision (a shared 5-gram is strong evidence of copied text; a
    * shared 3-gram is often just common phrasing).
    */
  private val shingle5Expr: String = shingleExprK(5)
  private val shingle5SqlDuck: String = shingleSqlDuckK(5)

  /** t7: benchmark decontamination — flag training documents that
    * share word-5-gram shingles with a held-out eval slice (the check
    * every serious pretraining pipeline runs before training; same
    * shape as GPT-3/PaLM's 13-gram overlap filters, scaled to this
    * corpus's short docs). The eval slice is the deterministic hash
    * slice t6 established (salt 'eval', 1/50 of docs) so both engines
    * derive the identical split. Scale shape: explode-to-shingle-hash
    * on both sides, one equi-join on the 60-bit shingle hash, one
    * partial-aggregable groupBy per contaminated doc. Never N² — cost
    * is linear in shingles. The eval side is corpus/50: NO broadcast
    * hint — at test scale AQE broadcasts it on its own, at 100 TB
    * corpus/50 is terabytes and the join correctly degrades to a
    * shuffled hash join on the shingle hash (a forced broadcast would
    * OOM the executors exactly when the check matters most).
    */
  /** t7/t14 results are memoized per (session, input) — pipe7 folds
    * both into the dataset card, their outputs are bounded (one row
    * per contaminated doc / per doc) while their inputs are the
    * corpus-sized shingle/gram explosions: the Dedup-index trade.
    */
  val t7Decontaminate: (SparkSession, String) => DataFrame =
    Memo.memoized("text.t7Decontaminate")(t7Uncached)

  private def t7Uncached(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents")
      .withColumn("is_eval",
        pmod(xhash64(concat_ws("|", lit("eval"),
          col("doc_id").cast("string"))), lit(50L)) === 0)
      .withColumn("w", words(col("text")))
      .withColumn("g", explode(expr(shingle5Expr)))
      .select(col("doc_id"), col("is_eval"), xhash64(col("g")).as("gh"))
    val evalSide = docs.filter(col("is_eval"))
      .select(col("gh"), col("doc_id").as("eval_doc"))
    docs.filter(!col("is_eval"))
      .join(evalSide, "gh")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_shared_shingles"),
        countDistinct(col("eval_doc")).as("n_eval_docs"))
  }

  val t7Sql: String = {
    val evalPred =
      s"${Norm.xhash64Sql("'eval|' || CAST(doc_id AS VARCHAR)")} % 50 = 0"
    s"""WITH sh AS (
       |  SELECT doc_id, $evalPred AS is_eval,
       |    ${Norm.xhash64Sql("g")} AS gh
       |  FROM (
       |    SELECT doc_id, unnest($shingle5SqlDuck) AS g
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w
       |          FROM documents) t0) t1)
       |SELECT tr.doc_id,
       |  count(DISTINCT tr.gh) AS n_shared_shingles,
       |  count(DISTINCT ev.doc_id) AS n_eval_docs
       |FROM sh tr JOIN (SELECT * FROM sh WHERE is_eval) ev
       |  ON tr.gh = ev.gh
       |WHERE NOT tr.is_eval
       |GROUP BY 1""".stripMargin
  }

  /** t8: stratified sampling with exact per-stratum quotas — N docs
    * per language, selected by deterministic hash rank (salt 'strat')
    * so the sample is reproducible across engines, partitionings and
    * runs, unlike seed-based `.sample`. One shuffle on the stratum
    * key. (Exact quotas need the per-stratum rank; a 100 TB variant
    * with huge strata would pre-filter by a hash THRESHOLD — t6's
    * shuffle-free shape — and rank only the survivors, trading a tiny
    * quota variance window for the sort.)
    */
  def t8StratifiedSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quota = 20
    Tables.load(s, d, "documents")
      .withColumn("h", xhash64(concat_ws("|", lit("strat"),
        col("doc_id").cast("string"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
      .filter(col("rk") <= quota)
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  val t8Sql: String = {
    val h = Norm.xhash64Sql("'strat|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, lang, rk FROM (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY $h, doc_id) AS rk
       |  FROM documents) t
       |WHERE rk <= 20""".stripMargin
  }

  /** t9: sequence packing — assign documents to fixed token-budget
    * bins by running fill, per source stream (the packing step before
    * writing pretraining examples). Deterministic contiguous fill:
    * docs in doc_id order per source, bin = floor((cumsum - tokens) /
    * budget) — a doc starts in the bin its predecessor's fill reached.
    * The window is partitioned by `source`, NOT global: a global
    * ordered cumsum is a single-partition bottleneck at 100 TB, the
    * per-stream one shuffles once on source and scales with streams.
    * Emits per-bin packing stats (fill ratio = how much budget real
    * packers would pad away).
    */
  def t9SequencePacking(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 512L
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, d, "documents")
      .withColumn("tokens", size(words(col("text"))).cast("long"))
      .withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("bin_id",
        ((col("cum") - col("tokens")) / budget).cast("long"))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("bin_tokens"))
  }

  val t9Sql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, tokens,
      |    sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT source, CAST(floor((cum - tokens) / 512.0) AS BIGINT) AS bin_id,
      |  count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS bin_tokens
      |FROM c GROUP BY 1, 2""".stripMargin

  /** t10: PII scrub — redact emails and IPv4 literals, report match
    * counts per doc. PII is INJECTED deterministically (the synthetic
    * corpus has none): both engines derive the same dirty text, so
    * the scrub itself — pattern semantics, replacement, counts — is
    * what the hash checks. Patterns stay in the Java∩RE2 common
    * subset (no lookaround, no \\b) so Spark and DuckDB agree by
    * construction. Per-row, codegen'd, no shuffle.
    */
  def t10PiiScrub(s: SparkSession, d: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    Tables.load(s, d, "documents")
      .withColumn("dirty", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1"))).otherwise(lit(""))))
      .select(col("doc_id"),
        size(regexp_extract_all(col("dirty"), lit(email), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("dirty"), lit(ip), lit(0))).as("n_ips"),
        xhash64(regexp_replace(regexp_replace(col("dirty"), email,
          "[EMAIL]"), ip, "[IP]")).as("scrubbed_hash"))
  }

  val t10Sql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    s"""WITH dirty AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 7 = 0
       |      THEN ' contact user' || CAST(doc_id AS VARCHAR) ||
       |           '@example.com now' ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 0
       |      THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
       |      ELSE '' END AS d
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(d, '$email')) AS n_emails,
       |  len(regexp_extract_all(d, '$ip')) AS n_ips,
       |  ${Norm.xhash64Sql(
      s"regexp_replace(regexp_replace(d, '$email', '[EMAIL]', 'g'), " +
        s"'$ip', '[IP]', 'g')")} AS scrubbed_hash
       |FROM dirty""".stripMargin
  }

  /** t11: lexicon-frequency profile — per document, how many of its
    * word OCCURRENCES are corpus-common / mid / rare (document
    * frequency bands over the corpus lexicon) plus the rare ratio:
    * the deterministic skeleton of CCNet-style LM-quality filtering
    * (docs dominated by rare tokens are boilerplate/garbled; docs of
    * only ultra-common tokens carry no content). A float LM
    * perplexity would be order-dependent under partial aggregation —
    * the band counts are integers, exact under any partitioning, and
    * the single ratio division is one IEEE op. Two shuffles: the
    * lexicon groupBy and the occurrence join on the word.
    */
  def t11LexiconProfile(s: SparkSession, d: String): DataFrame = {
    val occ = Tables.load(s, d, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val lex = occ.groupBy("word")
      .agg(countDistinct(col("doc_id")).as("df"))
    occ.join(lex, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("df") >= 100, 1L).otherwise(0L)).as("n_common"),
        sum(when(col("df") >= 10 && col("df") < 100, 1L).otherwise(0L))
          .as("n_mid"),
        sum(when(col("df") < 10, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_ratio",
        col("n_rare").cast("double") / col("n_words"))
  }

  val t11Sql: String =
    """WITH occ AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |lex AS (SELECT word, count(DISTINCT doc_id) AS df FROM occ
      |        GROUP BY 1)
      |SELECT doc_id, count(*) AS n_words,
      |  CAST(sum(CASE WHEN df >= 100 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_common,
      |  CAST(sum(CASE WHEN df >= 10 AND df < 100 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_mid,
      |  CAST(sum(CASE WHEN df < 10 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_rare,
      |  CAST(sum(CASE WHEN df < 10 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) AS rare_ratio
      |FROM occ JOIN lex USING (word)
      |GROUP BY 1""".stripMargin

  /** pipe4: the FULL modern curation pipeline — what a pretraining
    * data team actually runs, composed from this file's gates into
    * one declarative DAG:
    *
    *   canonicalize → quality gate (t2's word/uniq metrics) →
    *   repetition gate (t13's duplicate-bigram fraction) → exact
    *   dedup keeping the lowest doc_id (d1's rule) → benchmark
    *   decontamination against the deterministic eval slice (t7's
    *   5-gram overlap, eval docs themselves held out) → deterministic
    *   90% train split (t6's salted hash) → per-language corpus
    *   accounting.
    *
    * Catalyst fuses the scalar gates into the scan projection; the
    * wide stages are the dedup window, the decontamination
    * shingle-hash semi-join (AQE-sized), and the final groupBy — all
    * keyed, all partial-aggregable or bounded. The expensive stages
    * run GATED-FIRST: the bigram aggregate only over quality-passing
    * docs, the train-side shingle explode only over dedup survivors —
    * at 100 TB the cheap scalar gates shed most of the corpus before
    * any explode pays for it. The oracle recomputes the whole chain
    * independently, so the COMPOSITION (gate order, held-out
    * semantics, split arithmetic) is what the hash checks.
    */
  def pipe4Curation(s: SparkSession, d: String): DataFrame = {
    val base = canonBase(s, d)
    val quality = qualityGate(base)
    // repetition gate (t13's metric), computed over quality survivors
    val bigrams = quality.select(col("doc_id"),
      explode(expr(bigramExpr)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(((sum(col("cnt")) - count(lit(1))).cast("double") /
        sum(col("cnt"))).as("dup_fraction"))
    val gated = quality.join(bigrams, "doc_id")
      .filter(col("dup_fraction") <= 0.2)
    val deduped = dedupCanon(gated)
    // decontamination: train-side shingles only for dedup SURVIVORS
    // (contaminated ∩ deduped is all the anti-join consumes); the
    // eval slice explodes in full — it defines the benchmark
    def shingles(df: DataFrame) =
      df.select(col("doc_id"), explode(expr(shingleExprK(5))).as("g"))
        .select(col("doc_id"), xhash64(col("g")).as("gh"))
    val evalGh = shingles(base.filter(col("is_eval")))
      .select("gh").distinct()
    val trainSurvivors = deduped.filter(!col("is_eval"))
    // no broadcast hint: corpus/50 of shingle hashes out-scales the
    // broadcast limit long before 100 TB — AQE broadcasts when small,
    // shuffles when not (t7's rationale)
    val contaminated = shingles(trainSurvivors)
      .join(evalGh, "gh").select("doc_id").distinct()
    val clean = trainSurvivors
      .join(contaminated, Seq("doc_id"), "left_anti")
    // deterministic train split + accounting
    clean
      .filter(pmod(xhash64(concat_ws("|", lit("split"),
        col("doc_id").cast("string"))), lit(100L)) < 90)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_tokens"))
  }

  val pipe4Sql: String =
    s"""WITH $canonCteSql,
       |q AS (SELECT * FROM m WHERE $gateSql),
       |rep AS (
       |  SELECT doc_id,
       |    CAST(sum(cnt) - count(*) AS DOUBLE) / sum(cnt) AS dup_fraction
       |  FROM (
       |    SELECT doc_id, g, count(*) AS cnt FROM (
       |      SELECT doc_id, unnest($bigramSqlDuck) AS g
       |      FROM q) r0 GROUP BY 1, 2) r1
       |  GROUP BY 1),
       |gated AS (
       |  SELECT q.* FROM q JOIN rep ON q.doc_id = rep.doc_id
       |  WHERE rep.dup_fraction <= 0.2),
       |dd AS (
       |  SELECT *, row_number() OVER (PARTITION BY md5(canon)
       |                               ORDER BY doc_id) AS rn
       |  FROM gated),
       |surv AS (SELECT * FROM dd WHERE rn = 1 AND NOT is_eval),
       |evalgh AS (
       |  SELECT DISTINCT ${Norm.xhash64Sql("g")} AS gh FROM (
       |    SELECT unnest(${shingleSqlDuckK(5)}) AS g
       |    FROM m WHERE is_eval) e0),
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, ${Norm.xhash64Sql("g")} AS gh FROM (
       |      SELECT doc_id, unnest(${shingleSqlDuckK(5)}) AS g
       |      FROM surv) t0) t1
       |  WHERE gh IN (SELECT gh FROM evalgh))
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS total_tokens
       |FROM surv
       |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
       |  AND ${Norm.xhash64Sql("'split|' || CAST(doc_id AS VARCHAR)")}
       |      % 100 < 90
       |GROUP BY lang""".stripMargin

  /** pipe5: token-budget mixture sampling — build a training mix that
    * hits a per-language token budget (weights × half the corpus),
    * the data-mixing step between curation and packing. Selection is
    * EXACT greedy in (bucket, doc_id) order, but structured for
    * 100 TB: docs hash into 64 buckets per language, per-bucket token
    * sums roll up distributed, ONE tiny window (64 rows per language)
    * computes each bucket's remaining budget, and the per-doc prefix
    * window runs inside (lang, bucket) — 64× the parallelism of the
    * naive per-language cumsum, whose single-reducer-per-language
    * window is exactly the bottleneck this shape removes (t9's
    * per-source argument, taken one level further). Budgets are pure
    * integer arithmetic (basis points, integral div) so both engines
    * agree bit-for-bit. Emits the per-language mix report: corpus
    * size, budget, selected docs/tokens.
    */
  def pipe5TokenMixture(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBuckets = 64L
    // mixture weights in basis points; budget = bp/10000 × T/2
    val weights = s.createDataFrame(Seq(
      ("en", 4000L), ("de", 1500L), ("fr", 1500L),
      ("es", 1500L), ("zh", 1500L))).toDF("lang", "bp")
    val tok = Tables.load(s, d, "documents").select(
      col("doc_id"), col("lang"),
      size(words(col("text"))).cast("long").as("tokens"),
      (col("doc_id") % nBuckets).as("bucket"))
    val tot = tok.agg(sum(col("tokens")).as("t_total"))
    val wb = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val buckets = tok.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("tokens")).as("btok"))
      .withColumn("cb", sum(col("btok")).over(wb))
      .crossJoin(broadcast(tot))
      .join(broadcast(weights), "lang")
      .withColumn("budget", expr("(bp * t_total) div 20000"))
      .withColumn("rem",
        greatest(least(col("budget") - (col("cb") - col("btok")),
          col("btok")), lit(0L)))
      .select("lang", "bucket", "budget", "rem")
    val wd = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok.join(buckets, Seq("lang", "bucket"))
      .withColumn("dcum", sum(col("tokens")).over(wd))
      .withColumn("sel", col("dcum") - col("tokens") < col("rem"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("tok_total"),
        max(col("budget")).as("budget"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_sel"),
        sum(when(col("sel"), col("tokens")).otherwise(0L)).as("tok_sel"))
  }

  val pipe5Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
      |    doc_id % 64 AS bucket
      |  FROM documents),
      |w(lang, bp) AS (VALUES ('en', 4000), ('de', 1500), ('fr', 1500),
      |                       ('es', 1500), ('zh', 1500)),
      |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t_total FROM t),
      |b AS (
      |  SELECT lang, bucket, CAST(sum(tokens) AS BIGINT) AS btok
      |  FROM t GROUP BY 1, 2),
      |c AS (
      |  SELECT lang, bucket, btok,
      |    sum(btok) OVER (PARTITION BY lang ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      |  FROM b),
      |r AS (
      |  SELECT c.lang, c.bucket,
      |    (w.bp * tot.t_total) // 20000 AS budget,
      |    greatest(least((w.bp * tot.t_total) // 20000 - (cb - btok),
      |                   btok), 0) AS rem
      |  FROM c CROSS JOIN tot JOIN w ON c.lang = w.lang),
      |d AS (
      |  SELECT t.lang, t.doc_id, t.tokens, r.rem, r.budget,
      |    sum(t.tokens) OVER (PARTITION BY t.lang, t.bucket
      |      ORDER BY t.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcum
      |  FROM t JOIN r ON t.lang = r.lang AND t.bucket = r.bucket)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(tokens) AS BIGINT) AS tok_total,
      |  CAST(max(budget) AS BIGINT) AS budget,
      |  CAST(sum(CASE WHEN dcum - tokens < rem THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_sel,
      |  CAST(sum(CASE WHEN dcum - tokens < rem THEN tokens ELSE 0 END)
      |    AS BIGINT) AS tok_sel
      |FROM d GROUP BY lang""".stripMargin

  /** pipe13: soft-dedup weighted mixture — pipe5's question ("what
    * does each language contribute to the training mix?") answered
    * AFTER d18's soft-dedup weights are applied: every document's
    * tokens count scaled by its cluster's 1/|cluster| sampling mass,
    * so a language whose volume is mostly repeated boilerplate sees
    * its share fall while clean languages rise. Emits per language
    * the raw and effective (weight-discounted) token totals plus
    * both shares in basis points and the shift between them — the
    * one-look answer to "how much does near-dup inflation distort my
    * mixture?".
    *
    * All integer arithmetic: tokens × weight_scaled is exact BIGINT
    * (bounded: ≤10⁶ weight × per-language token sums — overflows
    * only past ~9·10¹² effective tokens per language, ~37 TB of
    * text in ONE language; the basis-point step divides the
    * DEscaled totals so its 10⁴ multiplier adds no overflow risk).
    * Shares use integral div on both engines; ties and rounding are
    * therefore bit-identical.
    *
    * Scale shape: d18's memoized cluster relation + one doc_id-keyed
    * equi-join onto the token projection + one partial-aggregable
    * groupBy(lang); the share windows run over the per-language
    * relation (≤ distinct-lang rows). Added cost over d18 is one
    * scan-join-agg pass.
    */
  def pipe13WeightedMixture(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Dedup.d18SoftDedupWeights(s, d)
      .select(col("doc_id"), col("weight_scaled"))
    val tok = Tables.load(s, d, "documents").select(
      col("doc_id"), col("lang"),
      size(words(col("text"))).cast("long").as("tokens"))
    val all = Window.partitionBy(lit(1))
    tok.join(w, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("tok_raw"),
        expr("sum(tokens * weight_scaled) div 1000000").as("tok_eff"))
      .withColumn("tot_raw", sum(col("tok_raw")).over(all))
      .withColumn("tot_eff", sum(col("tok_eff")).over(all))
      .withColumn("share_raw_bp", expr("tok_raw * 10000 div tot_raw"))
      .withColumn("share_eff_bp", expr("tok_eff * 10000 div tot_eff"))
      .withColumn("shift_bp", col("share_eff_bp") - col("share_raw_bp"))
      .drop("tot_raw", "tot_eff")
  }

  // lazy: embeds Dedup.d18Sql (see pipe7Sql's init-order note)
  lazy val pipe13Sql: String =
    s"""WITH wts AS (${graft.functions.Dedup.d18Sql}),
       |tok AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
       |  FROM documents),
       |l AS (
       |  SELECT t.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(t.tokens) AS BIGINT) AS tok_raw,
       |    CAST(sum(t.tokens * w.weight_scaled) // 1000000 AS BIGINT)
       |      AS tok_eff
       |  FROM tok t JOIN wts w ON t.doc_id = w.doc_id
       |  GROUP BY 1),
       |sh AS (
       |  SELECT lang, n_docs, tok_raw, tok_eff,
       |    CAST(tok_raw * 10000 // (sum(tok_raw) OVER ()) AS BIGINT)
       |      AS share_raw_bp,
       |    CAST(tok_eff * 10000 // (sum(tok_eff) OVER ()) AS BIGINT)
       |      AS share_eff_bp
       |  FROM l)
       |SELECT lang, n_docs, tok_raw, tok_eff, share_raw_bp,
       |  share_eff_bp, share_eff_bp - share_raw_bp AS shift_bp
       |FROM sh""".stripMargin

  /** pipe6: incremental-curation funnel — the continuous-ingest loop a
    * production corpus actually runs: a NEW shard arrives (d8's
    * deterministic 1-in-5 hash slice, salt "incr"), each arriving doc
    * walks the admission ladder, and the per-language funnel report
    * comes out the other end:
    *
    *   DUP_OF_CORPUS — canonical fingerprint already in the corpus
    *   index (d8's verdict; the corpus copy is the keeper);
    *   DUP_IN_SHARD  — a lower doc_id in the same shard owns the
    *   fingerprint (d1's keep-lowest election within the batch);
    *   LOW_QUALITY   — survives dedup but fails pipe1's quality gate
    *   ([[MinWords]]/[[MinUniqRatio]] on the canonicalized text);
    *   ADMIT         — enters the corpus; its tokens count toward
    *   the training budget.
    *
    * The ladder ORDER is the contract: dedup before quality, corpus
    * before shard — admitting a low-quality dup as LOW_QUALITY would
    * double-count the drop reason and skew the funnel. Scale shape:
    * the corpus side collapses to a distinct-fp index before the join
    * (partial-aggregable; at rest it IS d8's persisted parquet index —
    * the probe seam d8 proves with a real write→read→join), the shard
    * join is one equi-join on fp, the within-shard window partitions
    * by fp over shard rows only (never the corpus), and the funnel is
    * one partial-aggregable groupBy(lang). Cost is linear in
    * shard + index; the 100 TB corpus is touched only as its
    * fingerprint projection. Fingerprint and gate rules are shared
    * with d1/d8/pipe1 by construction, so the funnel cannot drift
    * from the operators it composes.
    */
  def pipe6IncrementalCuration(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.load(s, d, "documents")
      .withColumn("canon", lower(regexp_replace(col("text"), "\\s+", " ")))
      .withColumn("w", words(col("canon")))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("uniq_ratio",
        size(array_distinct(col("w"))).cast("double") / col("n_words"))
      .withColumn("fp", md5(col("canon")))
      .withColumn("is_new",
        pmod(xhash64(concat_ws("|", lit("incr"),
          col("doc_id").cast("string"))), lit(5L)) === 0)
    val index = base.filter(!col("is_new")).select(col("fp")).distinct()
      .withColumn("in_corpus", lit(true))
    base.filter(col("is_new"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .join(index, Seq("fp"), "left_outer")
      .withColumn("verdict",
        when(col("in_corpus"), lit("DUP_OF_CORPUS"))
          .when(col("rk") > 1, lit("DUP_IN_SHARD"))
          .when(col("n_words") < MinWords ||
            col("uniq_ratio") < MinUniqRatio, lit("LOW_QUALITY"))
          .otherwise(lit("ADMIT")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_arrived"),
        sum(when(col("verdict") === "DUP_OF_CORPUS", 1L).otherwise(0L))
          .as("n_dup_corpus"),
        sum(when(col("verdict") === "DUP_IN_SHARD", 1L).otherwise(0L))
          .as("n_dup_shard"),
        sum(when(col("verdict") === "LOW_QUALITY", 1L).otherwise(0L))
          .as("n_low_quality"),
        sum(when(col("verdict") === "ADMIT", 1L).otherwise(0L))
          .as("n_admitted"),
        sum(when(col("verdict") === "ADMIT", col("n_words"))
          .otherwise(0L)).as("tokens_admitted"))
  }

  val pipe6Sql: String = {
    val isNew =
      s"${Norm.xhash64Sql("'incr|' || CAST(doc_id AS VARCHAR)")} % 5 = 0"
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    lower(regexp_replace(text, '\\s+', ' ', 'g')) AS canon,
       |    $isNew AS is_new
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, lang, is_new, md5(canon) AS fp,
       |    CAST(len(string_split(canon, ' ')) AS BIGINT) AS n_words,
       |    CAST(len(list_distinct(string_split(canon, ' '))) AS DOUBLE)
       |      / len(string_split(canon, ' ')) AS uniq_ratio
       |  FROM b),
       |idx AS (SELECT DISTINCT fp FROM m WHERE NOT is_new),
       |shard AS (
       |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
       |    AS rk
       |  FROM m WHERE is_new),
       |v AS (
       |  SELECT s.lang, s.n_words,
       |    CASE WHEN i.fp IS NOT NULL THEN 'DUP_OF_CORPUS'
       |         WHEN s.rk > 1 THEN 'DUP_IN_SHARD'
       |         WHEN s.n_words < $MinWords
       |              OR s.uniq_ratio < $MinUniqRatio THEN 'LOW_QUALITY'
       |         ELSE 'ADMIT' END AS verdict
       |  FROM shard s LEFT JOIN idx i ON s.fp = i.fp)
       |SELECT lang, count(*) AS n_arrived,
       |  CAST(sum(CASE WHEN verdict = 'DUP_OF_CORPUS' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dup_corpus,
       |  CAST(sum(CASE WHEN verdict = 'DUP_IN_SHARD' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dup_shard,
       |  CAST(sum(CASE WHEN verdict = 'LOW_QUALITY' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_low_quality,
       |  CAST(sum(CASE WHEN verdict = 'ADMIT' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_admitted,
       |  CAST(sum(CASE WHEN verdict = 'ADMIT' THEN n_words ELSE 0 END)
       |    AS BIGINT) AS tokens_admitted
       |FROM v GROUP BY lang""".stripMargin
  }

  /** t14: corpus-grounded rarity profile — the surprisal-flavored
    * quality signal (how much of a document is built from rare
    * constructions) with the TRIGRAM as its unit: this corpus's
    * unigram vocabulary is 31 words (every one ubiquitous), so word
    * df carries no signal, while the ~30k-type trigram space has a
    * real frequency tail at every test scale. Per trigram occurrence
    * the corpus document frequency (df), rolled up per doc into
    * fixed absolute df BANDS (df = 1 hapax — constructions this doc
    * alone contributes; 2–4; 5–24; ≥ 25) plus the doc's min/max df.
    * A profile, deliberately not a binary gate: fixed thresholds
    * can't stay non-degenerate across corpus scales, band counts
    * always partition the mass. `hapax_per_mille` is the only
    * derived value: one exact-int IEEE division + floor, identical
    * in both engines.
    *
    * Scale shape: the df table is one partial-aggregable groupBy
    * over distinct (doc, gram) pairs — gram-vocabulary-sized, not
    * corpus-sized; the occurrence↔df equi-join on the gram is the
    * one fat shuffle (hash-bucket the vocabulary at 100 TB and it
    * co-locates); the per-doc rollup is partial-aggregable. Docs too
    * short for a trigram survive via the left join with zero counts.
    */
  val t14RarityProfile: (SparkSession, String) => DataFrame =
    Memo.memoized("text.t14RarityProfile")(t14Uncached)

  private def t14Uncached(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents")
      .withColumn("w", words(col("text")))
    val grams = docs.select(col("doc_id"),
      explode(expr(gramExprK(3, distinct = false))).as("gram"))
    val dfTab = grams.distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
    val perDoc = grams.join(dfTab, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_df1"),
        sum(when(col("df") >= 2 && col("df") <= 4, 1L).otherwise(0L))
          .as("n_df2_4"),
        sum(when(col("df") >= 5 && col("df") <= 24, 1L).otherwise(0L))
          .as("n_df5_24"),
        sum(when(col("df") >= 25, 1L).otherwise(0L)).as("n_df25p"),
        min(col("df")).as("min_df"), max(col("df")).as("max_df"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_df1"), lit(0L)).as("n_df1"),
        coalesce(col("n_df2_4"), lit(0L)).as("n_df2_4"),
        coalesce(col("n_df5_24"), lit(0L)).as("n_df5_24"),
        coalesce(col("n_df25p"), lit(0L)).as("n_df25p"),
        coalesce(col("min_df"), lit(0L)).as("min_df"),
        coalesce(col("max_df"), lit(0L)).as("max_df"),
        when(col("n_grams") > 0,
          floor(lit(1000.0) * col("n_df1") / col("n_grams")))
          .otherwise(0L).cast("long").as("hapax_per_mille"))
  }

  val t14Sql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(${gramSqlDuckK(3, distinct = false)})
       |    AS gram
       |  FROM docs),
       |dfq AS (
       |  SELECT gram, count(*) AS df
       |  FROM (SELECT DISTINCT doc_id, gram FROM grams) GROUP BY 1),
       |per_doc AS (
       |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_df1,
       |    CAST(sum(CASE WHEN f.df BETWEEN 2 AND 4 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_df2_4,
       |    CAST(sum(CASE WHEN f.df BETWEEN 5 AND 24 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_df5_24,
       |    CAST(sum(CASE WHEN f.df >= 25 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_df25p,
       |    CAST(min(f.df) AS BIGINT) AS min_df,
       |    CAST(max(f.df) AS BIGINT) AS max_df
       |  FROM grams g JOIN dfq f ON g.gram = f.gram GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(p.n_grams, 0) AS n_grams,
       |  coalesce(p.n_df1, 0) AS n_df1,
       |  coalesce(p.n_df2_4, 0) AS n_df2_4,
       |  coalesce(p.n_df5_24, 0) AS n_df5_24,
       |  coalesce(p.n_df25p, 0) AS n_df25p,
       |  coalesce(p.min_df, 0) AS min_df,
       |  coalesce(p.max_df, 0) AS max_df,
       |  CAST(CASE WHEN p.n_grams > 0
       |    THEN floor(1000.0 * p.n_df1 / p.n_grams) ELSE 0 END AS BIGINT)
       |    AS hapax_per_mille
       |FROM docs d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin

  /** t15: TF-IDF keyword extraction — each doc's top-3 terms ranked
    * rarity-weighted, the per-document topical fingerprint a curation
    * UI or topic-drift monitor reads. The ranking is the
    * float-free order (tf DESC, df ASC, term ASC): highest
    * within-doc frequency first, corpus-rarer term on ties, then
    * lexical — a total order both engines compute in pure integer and
    * string comparisons, where a log-based tf·idf score would hang
    * the cross-engine hash on transcendental rounding. Scale shape:
    * tf is one partial-aggregable groupBy, df is a groupBy over the
    * already-distinct (doc, term) pairs (O(vocab) output), and the
    * top-3 window partitions per doc — no global sort anywhere.
    */
  def t15TfidfKeywords(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Tables.load(s, d, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfTab, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "tf", "df")
  }

  val t15Sql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
      |SELECT doc_id, rank, term, tf, df FROM (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS rank
      |  FROM tf JOIN dfq ON tf.term = dfq.term) ranked
      |WHERE rank <= 3""".stripMargin

  /** pipe9: temperature-scaled source mixture — the multilingual/
    * multi-domain rebalancing step (sample domain i proportional to
    * p_i^α, α = 1/2): a flat-proportional mix lets the biggest source
    * drown the tail, α→0 flattens to uniform; √p is the standard
    * middle ground. The α = 1/2 choice is load-bearing for
    * verification: weight_i = floor(√tokens_i) is exact in BOTH
    * engines because IEEE-754 sqrt is correctly rounded (perfect
    * squares land exactly; floor is then integer-stable), where a
    * general p^α via exp/log would hang the hash on libm rounding.
    * Everything after the sqrt is integer arithmetic: budget_i =
    * weight_i · B ÷ Σweight with B = half the corpus tokens, and the
    * effective per-source sampling rate in basis points. One
    * partial-aggregable groupBy(source) then driver-size arithmetic —
    * the report is O(sources) rows regardless of corpus size.
    */
  def pipe9TemperatureMixture(s: SparkSession, d: String): DataFrame = {
    val bySrc = Tables.load(s, d, "documents")
      .select(col("source"), size(words(col("text"))).cast("long").as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
      .withColumn("weight",
        floor(sqrt(col("tokens").cast("double"))).cast("long"))
    val tot = bySrc.agg(sum(col("weight")).as("w_total"),
      (sum(col("tokens")) / lit(2)).cast("long").as("b_total"))
    bySrc.crossJoin(broadcast(tot))
      .withColumn("budget",
        expr("(weight * b_total) div w_total"))
      .withColumn("rate_bp",
        least(expr("(budget * 10000) div tokens"), lit(10000L)))
      .select("source", "n_docs", "tokens", "weight", "budget", "rate_bp")
  }

  val pipe9Sql: String =
    """WITH by_src AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |w AS (
      |  SELECT source, n_docs, tokens,
      |    CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS weight
      |  FROM by_src),
      |tot AS (
      |  SELECT CAST(sum(weight) AS BIGINT) AS w_total,
      |    CAST(sum(tokens) // 2 AS BIGINT) AS b_total FROM w)
      |SELECT source, n_docs, tokens, weight,
      |  (weight * b_total) // w_total AS budget,
      |  least((((weight * b_total) // w_total) * 10000) // tokens,
      |        10000) AS rate_bp
      |FROM w CROSS JOIN tot""".stripMargin

  /** pipe7: dataset card — the datasheet a curated corpus ships with,
    * as ONE long-format (section, metric, value) relation assembled
    * from the family's own operators: corpus size/diversity, exact-
    * dup accounting (d1), duplicated-passage mass (d12), quality
    * bands (t2), decontamination exposure (t7), and rarity coverage
    * (t14). Every value is a BIGINT from a partial-aggregable
    * global or tiny-group aggregate — each source collapses to a
    * handful of rows BEFORE the union, so the card costs its
    * constituent scans and nothing more, and at 100 TB those scans
    * are the same ones the pipeline already runs (memoized inputs
    * where the family memoizes). Quality bands present in the data
    * appear as rows; absent bands are absent in BOTH engines (no
    * conditional zero-fill to drift).
    */
  def pipe7DatasetCard(s: SparkSession, d: String): DataFrame = {
    def longRows(section: String, oneRow: DataFrame): DataFrame =
      oneRow.select(explode(map(oneRow.columns.flatMap(c =>
        Seq(lit(c), col(c).cast("long"))): _*)))
        .select(lit(section).as("section"), col("key").as("metric"),
          col("value"))
    val docs = Tables.load(s, d, "documents")
    val corpus = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(words(col("text")))).as("total_tokens"),
      sum(length(col("text"))).as("total_chars"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"))
    val exact = Dedup.d1ExactDedup(s, d).agg(
      count(lit(1)).as("n_exact_groups"),
      (sum(col("n_copies")) - count(lit(1))).as("n_exact_dup_docs"))
    val passages = Dedup.d12ExactSubstring(s, d).agg(
      sum(when(col("n_spans") > 0, 1L).otherwise(0L))
        .as("n_dup_passage_docs"),
      sum(col("dup_tokens")).as("total_dup_passage_tokens"))
    val quality = t2QualityScore(s, d).groupBy(col("quality_band"))
      .agg(count(lit(1)).as("value"))
      .select(lit("quality").as("section"),
        concat(lit("band_"), col("quality_band")).as("metric"),
        col("value"))
    val decon = t7Decontaminate(s, d)
      .agg(count(lit(1)).as("n_contaminated_docs"))
    val rarity = t14RarityProfile(s, d).agg(
      sum(when(col("n_df1") > 0, 1L).otherwise(0L))
        .as("n_docs_with_hapax"))
    longRows("corpus", corpus)
      .unionAll(longRows("dedup", exact))
      .unionAll(longRows("dedup", passages))
      .unionAll(quality)
      .unionAll(longRows("decontam", decon))
      .unionAll(longRows("rarity", rarity))
  }

  // lazy: embeds Dedup.d1Sql/d12Sql — under a Dedup-first class-init
  // order those vals are not yet assigned while Dedup's own init is
  // re-entrantly running TextAnalysis's, and an eager interpolation
  // would silently bake the string "null" into the oracle. Deferring
  // to first USE (always after both inits complete) breaks the cycle.
  lazy val pipe7Sql: String =
    s"""WITH card_corpus AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
       |      AS total_tokens,
       |    CAST(sum(length(text)) AS BIGINT) AS total_chars,
       |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |  FROM documents),
       |card_exact AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_exact_groups,
       |    CAST(sum(n_copies) - count(*) AS BIGINT) AS n_exact_dup_docs
       |  FROM (${Dedup.d1Sql}) x),
       |card_passages AS (
       |  SELECT CAST(sum(CASE WHEN n_spans > 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_dup_passage_docs,
       |    CAST(sum(dup_tokens) AS BIGINT) AS total_dup_passage_tokens
       |  FROM (${Dedup.d12Sql}) x),
       |card_quality AS (
       |  SELECT quality_band, CAST(count(*) AS BIGINT) AS value
       |  FROM ($t2Sql) x GROUP BY 1),
       |card_decon AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_contaminated_docs
       |  FROM ($t7Sql) x),
       |card_rarity AS (
       |  SELECT CAST(sum(CASE WHEN n_df1 > 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_docs_with_hapax
       |  FROM ($t14Sql) x)
       |SELECT 'corpus' AS section, 'n_docs' AS metric, n_docs AS value
       |  FROM card_corpus
       |UNION ALL SELECT 'corpus', 'total_tokens', total_tokens
       |  FROM card_corpus
       |UNION ALL SELECT 'corpus', 'total_chars', total_chars
       |  FROM card_corpus
       |UNION ALL SELECT 'corpus', 'n_sources', n_sources FROM card_corpus
       |UNION ALL SELECT 'corpus', 'n_langs', n_langs FROM card_corpus
       |UNION ALL SELECT 'dedup', 'n_exact_groups', n_exact_groups
       |  FROM card_exact
       |UNION ALL SELECT 'dedup', 'n_exact_dup_docs', n_exact_dup_docs
       |  FROM card_exact
       |UNION ALL SELECT 'dedup', 'n_dup_passage_docs', n_dup_passage_docs
       |  FROM card_passages
       |UNION ALL SELECT 'dedup', 'total_dup_passage_tokens',
       |  total_dup_passage_tokens FROM card_passages
       |UNION ALL SELECT 'quality', 'band_' || quality_band, value
       |  FROM card_quality
       |UNION ALL SELECT 'decontam', 'n_contaminated_docs',
       |  n_contaminated_docs FROM card_decon
       |UNION ALL SELECT 'rarity', 'n_docs_with_hapax', n_docs_with_hapax
       |  FROM card_rarity""".stripMargin

  /** The rendered card FILE (S9 sink): the same rows pipe7 registers,
    * grouped by section in deterministic order — the artifact a
    * dataset release actually ships. Bounded by construction (the
    * card is ~a dozen rows).
    */
  def writeDatasetCard(path: String, card: DataFrame): Unit = {
    val rows = card.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val bySection = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val body = bySection.map { case (sec, ms) =>
      s"## $sec\n" + ms.map(m => s"- ${m._2}: ${m._3}").mkString("\n")
    }
    graft.reverse.Ddl.writeArtifact(path,
      Seq("# Dataset Card") ++ body)
  }

  /** t16: the first two BPE merge rounds — tokenizer-training prep.
    * BPE trainers touch the CORPUS exactly once (the word-frequency
    * count); every merge round after that runs over the VOCABULARY
    * (word, freq) relation, which is what makes training tractable at
    * 100 TB — and this operator has precisely that shape: one corpus
    * groupBy, then per-round vocab-bound passes. Round 1 counts
    * freq-weighted adjacent character pairs and elects the top merge
    * (argmax by (count desc, pair asc) — the deterministic tie-break
    * real trainers also need); round 2 applies that merge (leftmost
    * non-overlapping rewrite, identical regexp semantics in both
    * engines; the fused symbol becomes one char) and recounts.
    * Top-20 per round via orderBy+limit — Spark plans
    * TakeOrderedAndProject, the scalable global top-k (no
    * single-partition window). Restricted to purely alphabetic words
    * so the elected pair is always a regex-literal.
    */
  /** The BPE word-frequency vocabulary — the ONE corpus pass both the
    * trainer (t16, t22's merge loop) and any later round share. BPE
    * training touches the corpus exactly once; everything after runs
    * over this (word, freq) relation, which is why it's a memoized
    * shared relation (vocab-sized: distinct lowercase words).
    */
  private val bpeVocab: (SparkSession, String) => DataFrame =
    Memo.memoized("text.bpeVocab") { (s, d) =>
      Tables.load(s, d, "documents")
        .select(explode(words(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy("w").agg(count(lit(1)).as("f"))
    }

  def t16BpeMerges(s: SparkSession, d: String): DataFrame = {
    val wf = bpeVocab(s, d)
    def pairCounts(df: DataFrame): DataFrame = df
      .filter(length(col("w")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("f")).as("n"))
    val r1 = pairCounts(wf)
    val top1 = broadcast(r1.orderBy(col("n").desc, col("pair").asc)
      .limit(1).select(col("pair").as("mpair")))
    val wf2 = wf.crossJoin(top1)
      .select(regexp_replace(col("w"), col("mpair"), lit("@")).as("w"),
        col("f"))
      .groupBy("w").agg(sum(col("f")).as("f"))
    def top20(df: DataFrame, round: Int): DataFrame = df
      .orderBy(col("n").desc, col("pair").asc).limit(20)
      .select(lit(round.toLong).as("round"), col("pair"), col("n"))
    top20(r1, 1).unionAll(top20(pairCounts(wf2), 2))
  }

  val t16Sql: String =
    """WITH wf AS (
      |  SELECT w, count(*) AS f FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY 1),
      |r1 AS (
      |  SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
      |    SELECT f, unnest([substr(w, i, 2)
      |                      for i in range(1, length(w))]) AS pair
      |    FROM wf WHERE length(w) >= 2) p GROUP BY 1),
      |wf2 AS (
      |  SELECT w, CAST(sum(f) AS BIGINT) AS f FROM (
      |    SELECT regexp_replace(w,
      |      (SELECT pair FROM r1 ORDER BY n DESC, pair ASC LIMIT 1),
      |      '@', 'g') AS w, f
      |    FROM wf) m GROUP BY 1),
      |r2 AS (
      |  SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
      |    SELECT f, unnest([substr(w, i, 2)
      |                      for i in range(1, length(w))]) AS pair
      |    FROM wf2 WHERE length(w) >= 2) p GROUP BY 1)
      |SELECT CAST(1 AS BIGINT) AS round, pair, n FROM
      |  (SELECT pair, n FROM r1 ORDER BY n DESC, pair ASC LIMIT 20) a
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS round, pair, n FROM
      |  (SELECT pair, n FROM r2 ORDER BY n DESC, pair ASC LIMIT 20) b"""
      .stripMargin

  /** t22 merge-round replacement symbols: one regex-literal,
    * non-[a-z] char per trained merge (the fused pair becomes one
    * char = one token, t16's convention). Chosen outside both the
    * vocabulary alphabet and the regex/replacement metacharacter
    * sets of BOTH engines (no `$ \ . * + ? ( ) [ ] { } | ^`), so an
    * elected pair containing an earlier round's symbol is still a
    * literal pattern.
    */
  private val BpeSymbols: Seq[String] = Seq("@", "%", "&", "=", "~", "!")

  /** Pattern that matches nothing (two 0x01 chars never occur in the
    * corpus): the merge slot for a round whose election came up empty
    * (degenerate corpus), so the encode chain is total in both
    * engines instead of null-poisoned via regexp_replace(w, NULL).
    */
  private val BpeNoMerge = "\u0001\u0001"

  /** The t22 trainer: `BpeSymbols.length` merge rounds over the
    * memoized vocab, returning the (pair, symbol) merge table in
    * training order — a real tokenizer's merges.txt, as driver
    * values. Split out so the spec can pin the elected merges
    * against t16's per-round argmax.
    */
  // the trained merge table is a DRIVER value (a tokenizer's
  // merges.txt) — memoized per (session, input) so t22's encode and
  // t23's packing don't each re-run the K election jobs
  private[graft] val bpeTrainMerges
      : (SparkSession, String) => Seq[(String, String)] =
    Memo.memoizedValue("text.bpeMerges") { (s, d) =>
      var vocab = bpeVocab(s, d)
      BpeSymbols.map { sym =>
        val pair = vocab.filter(length(col("w")) >= 2)
          .select(col("f"), explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .as("pair"))
          .groupBy("pair").agg(sum(col("f")).as("n"))
          .orderBy(col("n").desc, col("pair").asc).limit(1)
          .collect().headOption.map(_.getString(0)).getOrElse(BpeNoMerge)
        vocab = vocab
          .select(regexp_replace(col("w"), lit(pair), lit(sym)).as("w"),
            col("f"))
          .groupBy("w").agg(sum(col("f")).as("f"))
        (pair, sym)
      }
    }

  /** t22: BPE ENCODING at corpus scale — the tokenization pass every
    * training pipeline actually runs over 100 TB, applying the
    * trained merge table (t16's trainer continued to
    * `BpeSymbols.length` rounds) to every document. Two shapes, per
    * the BPE contract:
    *
    *  - TRAIN on the vocabulary: each round elects the most frequent
    *    adjacent pair over the memoized (word, freq) relation
    *    ([[bpeVocab]] — the corpus is touched exactly once) with a
    *    1-row bounded collect (the planning-lookup class), then
    *    rewrites the VOCAB. The merge table is a driver-side
    *    artifact, exactly like a real tokenizer's merges.txt.
    *  - ENCODE the corpus: the collected merges become LITERALS in
    *    the plan (a chain of literal-pattern regexp_replace,
    *    whole-stage codegen) applied to the VOCABULARY — once per
    *    distinct word, the bound the trainer already rides — and the
    *    corpus pass is one scan-explode + broadcast join from word
    *    occurrence to encoded length (a real tokenizer's word
    *    cache): regex work ∝ vocab, corpus work one codegen'd join
    *    probe per occurrence, zero extra shuffle beyond the doc_id
    *    re-aggregation. Merges apply in training order, each as a
    *    leftmost non-overlapping global replace (identical semantics
    *    in Spark's Java regex and DuckDB's RE2 on literal patterns —
    *    the same determinism contract as t16). Non-alphabetic words
    *    miss the vocab join and byte-pass through as char tokens.
    *
    * Output: per-doc BPE token count (chars after merging: every
    * fused pair is one symbol) next to the whitespace token count —
    * the compression the tokenizer bought, doc by doc.
    */
  /** The literal-merge encode chain: K nested literal-pattern
    * `regexp_replace`s in training order. Plan size grows LINEARLY
    * in K — correct and whole-stage-codegen'd at the trained K here,
    * and proven by a spec gate to still plan, compile, and stay
    * under the huge-method fallback limit at K = 64. That gate is
    * the documented ceiling of this representation: a production
    * tokenizer's ~32k merges would blow plan/codegen size long
    * before data size matters, and restructures as a broadcast
    * merge-table pass (per-word iterative join against the merge
    * ranks) instead of plan literals.
    */
  private[graft] def bpeEncodeChain(merges: Seq[(String, String)])(
      c: Column): Column = merges.foldLeft(c) {
    case (acc, (p, sym)) => regexp_replace(acc, lit(p), lit(sym))
  }

  def t22BpeEncode(s: SparkSession, d: String): DataFrame = {
    val merges = bpeTrainMerges(s, d)
    // encode the VOCABULARY, not the corpus: the merge chain runs
    // once per distinct word over the memoized (word, freq) relation
    // (vocab-bound — the same bound the trainer rides), and the
    // corpus pass becomes a broadcast join from occurrence to
    // encoded length. At 100 TB the regex work is then ∝ vocab, not
    // ∝ corpus occurrences — the shape a real tokenizer's word cache
    // gives it. Correctness is unchanged: the vocab holds exactly
    // the corpus's ^[a-z]+$ words, so every alpha occurrence hits;
    // non-alpha words miss the join and byte-pass through by length.
    // The broadcast hint has its own documented bound (the K=64
    // discipline applied to the vocab dimension): it assumes the
    // [a-z]+-filtered deduped vocab stays lexicon-sized. An explicit
    // broadcast() is NOT size-gated — Spark attempts it regardless of
    // autoBroadcastJoinThreshold and an oversized vocab FAILS the
    // broadcast (8 GB relation limit / driver memory) rather than
    // degrading; at a scale where the distinct-word relation outgrows
    // the driver, drop the hint so the threshold-based planner picks
    // a shuffled equi-join with identical semantics.
    val encTable = bpeVocab(s, d).select(col("w"),
      length(bpeEncodeChain(merges)(col("w"))).cast("long")
        .as("enc_len"))
    Tables.load(s, d, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .join(broadcast(encTable), Seq("w"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("enc_len"), length(col("w")).cast("long"))
          .as("tok"))
      .groupBy("doc_id")
      .agg(sum(col("tok")).as("bpe_tokens"),
        count(lit(1)).as("ws_tokens"))
  }

  /** t22's oracle replays the SAME training loop as chained CTEs —
    * k vocab rewrites, each electing from the previous round's vocab
    * with the identical (count desc, pair asc) tie-break — then
    * encodes with the same nested literal replaces. Generated by the
    * same loop bounds as the Spark side so the round count can never
    * drift between engines.
    */
  /** The shared CTE chain ending in `perdoc(doc_id, bpe_tokens,
    * ws_tokens)` — t22 selects it directly, t23 packs over it.
    * Every wf/m CTE is MATERIALIZED: each m_k scalar subquery and
    * wf_k rewrite references wf_{k-1}, so without materialization
    * DuckDB re-inlines the chain at every reference and the oracle
    * re-evaluates it exponentially in the round count (measured:
    * 246 s at sf0.01 inlined vs sub-second materialized — the same
    * query shape Spark executes linearly because the merge elections
    * are collected driver values).
    */
  private lazy val bpePerDocSqlCtes: String = {
    val wf0 =
      """wf0 AS MATERIALIZED (
        |  SELECT w, count(*) AS f FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY 1)""".stripMargin
    val rounds = BpeSymbols.zipWithIndex.map { case (sym, i) =>
      val k = i + 1
      s"""m$k AS MATERIALIZED (
         |  SELECT coalesce((
         |    SELECT pair FROM (
         |      SELECT pair, sum(f) AS n FROM (
         |        SELECT f, unnest([substr(w, i, 2)
         |                          for i in range(1, length(w))]) AS pair
         |        FROM wf${k - 1} WHERE length(w) >= 2) p GROUP BY 1)
         |    ORDER BY n DESC, pair ASC LIMIT 1),
         |    chr(1) || chr(1)) AS p),
         |wf$k AS MATERIALIZED (
         |  SELECT w, CAST(sum(f) AS BIGINT) AS f FROM (
         |    SELECT regexp_replace(w, (SELECT p FROM m$k), '$sym', 'g')
         |      AS w, f
         |    FROM wf${k - 1}) r GROUP BY 1)""".stripMargin
    }
    val enc = BpeSymbols.zipWithIndex.foldLeft("w") { case (acc, (sym, i)) =>
      s"regexp_replace($acc, (SELECT p FROM m${i + 1}), '$sym', 'g')"
    }
    s"""$wf0,
       |${rounds.mkString(",\n")},
       |ew AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id,
       |    CASE WHEN regexp_matches(w, '^[a-z]+$$')
       |         THEN length($enc) ELSE length(w) END AS tok
       |  FROM ew),
       |perdoc AS MATERIALIZED (
       |  SELECT doc_id, CAST(sum(tok) AS BIGINT) AS bpe_tokens,
       |    CAST(count(*) AS BIGINT) AS ws_tokens
       |  FROM tok GROUP BY 1)""".stripMargin
  }

  lazy val t22Sql: String =
    s"""WITH $bpePerDocSqlCtes
       |SELECT doc_id, bpe_tokens, ws_tokens FROM perdoc""".stripMargin

  /** t23: sequence packing in the TOKENIZER's own currency — t9's
    * budget-binned packing re-keyed on t22's BPE token counts (the
    * number a training run actually packs by; whitespace counts
    * under-fill bins exactly where the tokenizer compresses least).
    * Budget 2048 BPE tokens per bin. Plan: the t22 encode pass, one
    * doc-keyed join for the source column, then t9's partitioned
    * running-sum window — corpus-linear, one extra keyed exchange
    * over t9.
    */
  def t23BpePacking(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 2048L
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t22BpeEncode(s, d)
      .join(Tables.load(s, d, "documents").select("doc_id", "source"),
        "doc_id")
      .withColumn("cum", sum(col("bpe_tokens")).over(w))
      .withColumn("bin_id",
        ((col("cum") - col("bpe_tokens")) / budget).cast("long"))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bpe_tokens")).as("bin_tokens"))
  }

  lazy val t23Sql: String =
    s"""WITH $bpePerDocSqlCtes,
       |j AS (
       |  SELECT p.doc_id, p.bpe_tokens, d.source
       |  FROM perdoc p JOIN documents d USING (doc_id)),
       |c AS (
       |  SELECT source, doc_id, bpe_tokens,
       |    sum(bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM j)
       |SELECT source,
       |  CAST(floor((cum - bpe_tokens) / 2048.0) AS BIGINT) AS bin_id,
       |  count(*) AS n_docs, CAST(sum(bpe_tokens) AS BIGINT) AS bin_tokens
       |FROM c GROUP BY 1, 2""".stripMargin

  /** pipe10: gate-ablation matrix — for every train candidate, the
    * four curation gates (quality, repetition, exact-dedup,
    * decontamination) evaluated INDEPENDENTLY (not sequentially —
    * the sequential funnel is pipe4 itself), then one groupBy over
    * the flag combination: the "why did my corpus shrink" table
    * every pipeline report ships, showing each gate's exclusive and
    * joint kill counts. Flag definitions are pipe1/pipe4's own
    * (shared canonBase / thresholds / gram generators), so this
    * matrix can never drift from the pipeline it explains. Docs too
    * short for a gate pass it vacuously (no bigram / no 5-shingle ⇒
    * not repetitive / not contaminated). Scale: each flag is one
    * bucketed join or window over relations the pipeline already
    * builds; as a diagnostics pass a 100 TB deployment runs it on a
    * stratified sample (t8's operator) — the plan shape is unchanged.
    */
  def pipe10GateAblation(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = canonBase(s, d)
    val rep = base.select(col("doc_id"), explode(expr(bigramExpr)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(((sum(col("cnt")) - count(lit(1))).cast("double") /
        sum(col("cnt"))).as("dup_fraction"))
    val dupRank = base.withColumn("rn", row_number().over(
      Window.partitionBy(md5(col("canon"))).orderBy(col("doc_id"))))
      .select("doc_id", "rn")
    val evalGh = base.filter(col("is_eval"))
      .select(explode(expr(shingleExprK(5))).as("g"))
      .select(xhash64(col("g")).as("gh")).distinct()
    val contaminated = base
      .select(col("doc_id"), explode(expr(shingleExprK(5))).as("g"))
      .select(col("doc_id"), xhash64(col("g")).as("gh"))
      .join(evalGh, "gh").select("doc_id").distinct()
      .withColumn("is_cont", lit(true))
    base.filter(!col("is_eval"))
      .join(rep, Seq("doc_id"), "left_outer")
      .join(dupRank, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left_outer")
      .groupBy(
        (col("n_words") >= MinWords && col("uniq_ratio") >= MinUniqRatio)
          .as("passed_quality"),
        coalesce(col("dup_fraction") <= 0.2, lit(true))
          .as("passed_repetition"),
        (col("rn") === 1).as("not_exact_dup"),
        coalesce(!col("is_cont"), lit(true)).as("not_contaminated"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_tokens"))
  }

  val pipe10Sql: String =
    s"""WITH $canonCteSql,
       |rep AS (
       |  SELECT doc_id,
       |    CAST(sum(cnt) - count(*) AS DOUBLE) / sum(cnt) AS dup_fraction
       |  FROM (
       |    SELECT doc_id, g, count(*) AS cnt FROM (
       |      SELECT doc_id, unnest($bigramSqlDuck) AS g
       |      FROM m) r0 GROUP BY 1, 2) r1
       |  GROUP BY 1),
       |dr AS (
       |  SELECT doc_id, row_number() OVER (PARTITION BY md5(canon)
       |                                    ORDER BY doc_id) AS rn
       |  FROM m),
       |evalgh AS (
       |  SELECT DISTINCT ${Norm.xhash64Sql("g")} AS gh FROM (
       |    SELECT unnest(${shingleSqlDuckK(5)}) AS g
       |    FROM m WHERE is_eval) e0),
       |cont AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, ${Norm.xhash64Sql("g")} AS gh FROM (
       |      SELECT doc_id, unnest(${shingleSqlDuckK(5)}) AS g
       |      FROM m) c0) c1
       |  JOIN evalgh USING (gh))
       |SELECT
       |  n_words >= $MinWords AND uniq_ratio >= $MinUniqRatio
       |    AS passed_quality,
       |  coalesce(dup_fraction <= 0.2, TRUE) AS passed_repetition,
       |  dr.rn = 1 AS not_exact_dup,
       |  cont.doc_id IS NULL AS not_contaminated,
       |  count(*) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS total_tokens
       |FROM m
       |LEFT JOIN rep USING (doc_id)
       |JOIN dr USING (doc_id)
       |LEFT JOIN cont USING (doc_id)
       |WHERE NOT is_eval
       |GROUP BY 1, 2, 3, 4""".stripMargin

  /** t17: held-out bigram-LM fluency score — the CCNet shape (Wenzek
    * et al., arXiv:1911.00359: score target text under an LM trained
    * on a reference corpus; perplexity bands drive keep/drop). Train
    * slice = docs with doc_id % 10 ≠ 0 (t7's deterministic-slice
    * convention); EVERY doc is scored, so the held-out 10% exercises
    * genuinely unseen bigrams and the add-one smoothing is load-
    * bearing, not decorative.
    *
    * Deliberately NOT float perplexity (t11's scaladoc states the
    * family rule: a float LM score is order-dependent under partial
    * aggregation, and ln() is transcendental — engines differ in the
    * last ulp). The score is the integer-exact surrogate: per bigram,
    * reciprocal smoothed conditional probability
    * `S = floor((c1 + V) / (c12 + 1))` (an exact integer in both
    * engines — c1/c12/V are counts), per doc the SUM of S (integer,
    * associative — safe under any partitioning) and its mean (one
    * IEEE division of exact ints). Same ordering signal as perplexity
    * for banding — monotone per-bigram in 1/p — with arithmetic
    * instead of geometric averaging (documented trade: rare bigrams
    * weigh heavier, which is the property a garbled-text gate wants).
    *
    * 100 TB shape: the MODEL is vocabulary-bound — one groupBy for
    * bigram counts, one for head counts, both partial-aggregable;
    * scoring is two equi-joins on the word keys (broadcastable while
    * the model fits, shuffled-hash beyond) plus one per-doc
    * partial-aggregable sum. V is a bounded planning aggregate (one
    * long), the same class as the chunk-plan collects.
    */
  def t17BigramLm(s: SparkSession, d: String): DataFrame =
    bigramScores(s, d)
      .select("doc_id", "in_train", "n_bigrams", "n_unseen",
        "sum_recip", "mean_recip")

  /** The per-doc bigram-LM score relation t17 reports and t21 buckets
    * — one definition so the two stay one model.
    */
  private def bigramScores(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents")
    // the sequence(1,0)-descends guard, see gramExprK's scaladoc
    val pairs = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode(expr(
        """transform(
          |  if(size(w) >= 2, sequence(1, size(w) - 1), array()),
          |  i -> struct(element_at(w, i) AS w1,
          |              element_at(w, i + 1) AS w2))""".stripMargin))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val train = pairs.filter(col("doc_id") % 10 =!= 0)
    val big = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val head = train.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = docs.filter(col("doc_id") % 10 =!= 0)
      .select(explode(words(col("text"))).as("t"))
      .agg(countDistinct(col("t"))).head.getLong(0)
    pairs
      .join(head, Seq("w1"), "left_outer")
      .join(big, Seq("w1", "w2"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c12"), lit(0L)).as("c12"))
      // counts ≪ 2^52, so the double-division floor is exact
      .withColumn("s", floor((col("c1") + lit(v)).cast("double") /
        (col("c12") + lit(1L))).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c12") === 0, 1L).otherwise(0L)).as("n_unseen"),
        sum(col("s")).as("sum_recip"))
      .withColumn("in_train",
        when(col("doc_id") % 10 =!= 0, 1L).otherwise(0L))
      .withColumn("mean_recip",
        col("sum_recip").cast("double") / col("n_bigrams"))
  }

  /** t21: CCNet perplexity bucketing (Wenzek et al., §4.3) — the step
    * AFTER t17's scoring in the published pipeline: per language,
    * rank documents by LM score and cut the corpus into head/middle/
    * tail thirds (CCNet trains on head+middle, inspects tail). Exact
    * per-language ntile over (mean_recip, doc_id) — the deterministic
    * total order the w11 family uses; the double mean is one
    * IEEE-exact division of exact integers, identical cross-engine.
    * Only scoreable docs (≥ 1 bigram) participate, t17's domain.
    *
    * Scale note: exact ntile is one sort per language partition —
    * the oracle-checkable decision form. At 100 TB the cuts come
    * from a GK sketch (`percentile_approx`, a33b's documented trade)
    * and the ntile becomes two broadcast threshold comparisons; the
    * BUCKETING semantics this query pins are unchanged.
    */
  def t21CcnetBuckets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(col("mean_recip").asc, col("doc_id").asc)
    bigramScores(s, d)
      .join(Tables.load(s, d, "documents").select("doc_id", "lang"),
        "doc_id")
      .withColumn("b", ntile(3).over(w))
      .withColumn("bucket", when(col("b") === 1, "head")
        .when(col("b") === 2, "middle").otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams") + lit(1L)).as("total_tokens"),
        sum(col("sum_recip")).as("recip_sum"))
  }

  val t17Sql: String =
    """WITH dw AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |pairs AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, greatest(len(w), 1)),
      |                          i -> w[i])) AS w1,
      |    unnest(list_transform(range(1, greatest(len(w), 1)),
      |                          i -> w[i+1])) AS w2
      |  FROM dw),
      |tp AS (SELECT * FROM pairs WHERE doc_id % 10 <> 0),
      |big AS (SELECT w1, w2, count(*) AS c12 FROM tp GROUP BY 1, 2),
      |hd AS (SELECT w1, count(*) AS c1 FROM tp GROUP BY 1),
      |vocab AS (
      |  SELECT count(DISTINCT t) AS v FROM (
      |    SELECT unnest(string_split(text, ' ')) AS t
      |    FROM documents WHERE doc_id % 10 <> 0) u),
      |sc AS (
      |  SELECT p.doc_id, coalesce(big.c12, 0) AS c12,
      |    CAST(floor(CAST(coalesce(hd.c1, 0) + (SELECT v FROM vocab)
      |                    AS DOUBLE) / (coalesce(big.c12, 0) + 1))
      |      AS BIGINT) AS s
      |  FROM pairs p
      |  LEFT JOIN hd USING (w1)
      |  LEFT JOIN big USING (w1, w2))
      |SELECT doc_id,
      |  CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END AS in_train,
      |  count(*) AS n_bigrams,
      |  CAST(sum(CASE WHEN c12 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unseen,
      |  CAST(sum(s) AS BIGINT) AS sum_recip,
      |  CAST(sum(s) AS DOUBLE) / count(*) AS mean_recip
      |FROM sc GROUP BY 1, 2""".stripMargin

  val t21Sql: String =
    s"""WITH t17 AS ($t17Sql),
       |j AS (SELECT t17.*, doc.lang
       |      FROM t17 JOIN documents doc USING (doc_id)),
       |b AS (SELECT lang, n_bigrams, sum_recip,
       |        ntile(3) OVER (PARTITION BY lang
       |                       ORDER BY mean_recip ASC, doc_id ASC) AS b
       |      FROM j)
       |SELECT lang,
       |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |         ELSE 'tail' END AS bucket,
       |  count(*) AS n_docs,
       |  CAST(sum(n_bigrams + 1) AS BIGINT) AS total_tokens,
       |  CAST(sum(sum_recip) AS BIGINT) AS recip_sum
       |FROM b GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------- t18 Gopher gates

  /** Gopher repetition thresholds (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * table A1): a doc is repetitive if the single most frequent
    * {2,3,4}-gram covers more than {20%, 18%, 16%} of its characters,
    * or duplicated 5-grams cover more than 15% of it. Public-paper
    * constants — one copy so the Spark and DuckDB dialects cannot
    * drift.
    */
  private val TopGramMaxFrac = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private val Dup5MaxFrac = 0.15

  /** Word k-gram windows WITH positions — the unit for duplicated-
    * n-gram COVERAGE (interval union needs to know where each
    * occurrence sits). Mirrors [[gramExprK]]'s short-doc guard.
    */
  private def posGramExprK(k: Int): String = {
    val cells = (0 until k).map(j => s"element_at(w, i + $j)")
      .mkString(", ")
    s"""transform(
       |  if(size(w) >= $k, sequence(1, size(w) - ${k - 1}), array()),
       |  i -> struct(i AS pos, concat_ws(' ', $cells) AS gram))""".stripMargin
  }

  /** t18: the Gopher/MassiveText repetition gate family (Rae et al.
    * 2021, appendix A1) — per document:
    *
    *   top{2,3,4}_frac — characters covered by the single MOST
    *   FREQUENT n-gram (count × n-gram length / doc chars; the
    *   standard occurrence-sum approximation — overlapping
    *   occurrences may double-count, as in the published filters);
    *   tie on count broken to the lexicographically smallest gram so
    *   the row is deterministic under any partitioning.
    *
    *   dup5_frac — fraction of WORDS covered by 5-grams that occur
    *   more than once in the doc, counted ONCE per word via interval
    *   union (gaps-and-islands over the occurrence windows — the same
    *   coverage arithmetic d12 uses across docs, here within one).
    *
    * Scale shape: the top-gram side is ONE explode + two partial-
    * aggregable groupBys + a per-(doc,n) top-1 window; the coverage
    * side is one positional explode with doc-local windows — every
    * wide stage keys on doc_id, so at 100 TB the whole gate family is
    * two keyed exchanges, no pair joins, no driver state. Short docs
    * (no n-gram of some width) come back 0.0/unflagged via the
    * left-join + coalesce, t13's TOTAL-over-the-corpus rule.
    */
  def t18GopherRepetition(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, d, "documents")
      .withColumn("w", words(col("text")))
    // most-frequent-gram char coverage, n = 2..4: single tagged explode
    val tagged = (2 to 4)
      .map(n => s"transform(${gramExprK(n, distinct = false)}, " +
        s"g -> struct($n AS n, g AS gram))")
      .mkString("concat(", ", ", ")")
    val byGram = docs
      .select(col("doc_id"), length(col("text")).as("nc"),
        explode(expr(tagged)).as("t"))
      .groupBy(col("doc_id"), col("nc"), col("t.n").as("n"),
        col("t.gram").as("gram"))
      .agg(count(lit(1)).as("cnt"))
    val top = byGram
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id", "n")
        .orderBy(col("cnt").desc, col("gram").asc)))
      .filter(col("rn") === 1)
      .withColumn("frac",
        (col("cnt") * length(col("gram"))).cast("double") / col("nc"))
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("n") === 2, col("frac"))).as("top2_frac"),
        max(when(col("n") === 3, col("frac"))).as("top3_frac"),
        max(when(col("n") === 4, col("frac"))).as("top4_frac"))
    // duplicated-5-gram word coverage: positional windows, dup grams,
    // island-union of their [pos, pos+4] intervals per doc
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val dup5 = docs
      .select(col("doc_id"), size(col("w")).as("nw"),
        explode(expr(posGramExprK(5))).as("o"))
      .select(col("doc_id"), col("nw"), col("o.pos").as("pos"),
        col("o.gram").as("gram"))
      .withColumn("cnt", count(lit(1))
        .over(Window.partitionBy("doc_id", "gram")))
      .filter(col("cnt") > 1)
      .withColumn("fin", col("pos") + 4)
      .withColumn("prev_max", max(col("fin")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_isl",
        when(col("prev_max").isNull || col("pos") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("new_isl")).over(wDoc))
      .groupBy(col("doc_id"), col("nw"), col("isl"))
      .agg((max(col("fin")) - min(col("pos")) + 1).as("cov"))
      .groupBy(col("doc_id"), col("nw"))
      .agg(sum(col("cov")).as("dup_words"))
      .select(col("doc_id"),
        (col("dup_words").cast("double") / col("nw")).as("dup5_frac"))
    docs.select(col("doc_id"))
      .join(top, Seq("doc_id"), "left_outer")
      .join(dup5, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("top2_frac"), lit(0.0)).as("top2_frac"),
        coalesce(col("top3_frac"), lit(0.0)).as("top3_frac"),
        coalesce(col("top4_frac"), lit(0.0)).as("top4_frac"),
        coalesce(col("dup5_frac"), lit(0.0)).as("dup5_frac"))
      .withColumn("flagged",
        col("top2_frac") > TopGramMaxFrac(2) ||
          col("top3_frac") > TopGramMaxFrac(3) ||
          col("top4_frac") > TopGramMaxFrac(4) ||
          col("dup5_frac") > Dup5MaxFrac)
  }

  val t18Sql: String = {
    def gramsUnion = (2 to 4).map { n =>
      s"""SELECT doc_id, length(text) AS nc, $n AS n,
         |    unnest(${gramSqlDuckK(n, distinct = false)}) AS gram
         |  FROM dw""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val cells5 = (0 until 5).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""WITH dw AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS w
       |  FROM documents),
       |grams AS (
       |  $gramsUnion),
       |cnts AS (
       |  SELECT doc_id, nc, n, gram, count(*) AS cnt
       |  FROM grams GROUP BY 1, 2, 3, 4),
       |topg AS (
       |  SELECT doc_id, n,
       |    CAST(cnt * length(gram) AS DOUBLE) / nc AS frac,
       |    row_number() OVER (PARTITION BY doc_id, n
       |                       ORDER BY cnt DESC, gram ASC) AS rn
       |  FROM cnts),
       |tf AS (
       |  SELECT doc_id,
       |    max(CASE WHEN n = 2 THEN frac END) AS top2_frac,
       |    max(CASE WHEN n = 3 THEN frac END) AS top3_frac,
       |    max(CASE WHEN n = 4 THEN frac END) AS top4_frac
       |  FROM topg WHERE rn = 1 GROUP BY 1),
       |pos5 AS (
       |  SELECT doc_id, len(w) AS nw,
       |    unnest(range(1, greatest(len(w) - 3, 1))) AS pos,
       |    unnest(list_transform(range(1, greatest(len(w) - 3, 1)),
       |                          i -> $cells5)) AS gram
       |  FROM dw),
       |dup AS (
       |  SELECT doc_id, nw, pos, pos + 4 AS fin,
       |    count(*) OVER (PARTITION BY doc_id, gram) AS cnt
       |  FROM pos5),
       |isl AS (
       |  SELECT doc_id, nw, pos, fin,
       |    max(fin) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM dup WHERE cnt > 1),
       |isl2 AS (
       |  SELECT doc_id, nw, pos, fin,
       |    sum(CASE WHEN prev_max IS NULL OR pos > prev_max
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |  FROM isl),
       |cov AS (
       |  SELECT doc_id, nw, isl, max(fin) - min(pos) + 1 AS cov
       |  FROM isl2 GROUP BY 1, 2, 3),
       |d5 AS (
       |  SELECT doc_id,
       |    CAST(sum(cov) AS DOUBLE) / nw AS dup5_frac
       |  FROM cov GROUP BY doc_id, nw)
       |SELECT d.doc_id,
       |  coalesce(top2_frac, 0.0) AS top2_frac,
       |  coalesce(top3_frac, 0.0) AS top3_frac,
       |  coalesce(top4_frac, 0.0) AS top4_frac,
       |  coalesce(dup5_frac, 0.0) AS dup5_frac,
       |  coalesce(top2_frac, 0.0) > ${TopGramMaxFrac(2)} OR
       |    coalesce(top3_frac, 0.0) > ${TopGramMaxFrac(3)} OR
       |    coalesce(top4_frac, 0.0) > ${TopGramMaxFrac(4)} OR
       |    coalesce(dup5_frac, 0.0) > $Dup5MaxFrac AS flagged
       |FROM documents d
       |LEFT JOIN tf ON d.doc_id = tf.doc_id
       |LEFT JOIN d5 ON d.doc_id = d5.doc_id""".stripMargin
  }

  // ------------------------------------------------- t19 NB classifier

  /** t19: seed-trained quality classifier — the CCNet/GPT-3 shape
    * (Wenzek et al. 2020; Brown et al. 2020): label a SEED by rule
    * (t2's HIGH band = positive, LOW = negative, MEDIUM unlabeled),
    * learn per-token class counts from the seed, score EVERY doc —
    * including the unlabeled middle — by summed token polarity, so
    * the rule generalizes token-wise beyond the docs it labeled.
    *
    * The per-token score is an INTEGER-EXACT surrogate of the naive-
    * Bayes log-ratio (t17's discipline): floor((c_hq − c_lq) × 10^6 /
    * (c_hq + c_lq + 2)) — the add-one-smoothed conditional-rate
    * difference, same sign as log(P(w|hq)/P(w|lq)), computed as one
    * exact BIGINT product and ONE IEEE division, so per-doc sums are
    * BIGINT and partition-invariant (a float log-sum would drift
    * between engines and between shuffle orders). Tokens unseen in
    * the seed score 0.
    *
    * Scale shape: the model is a vocabulary-bound aggregate
    * (broadcastable at any corpus size), scoring is one equi-join of
    * the token stream against it + one partial-aggregable groupBy —
    * the same two-exchange plan as t17.
    */
  def t19NbQuality(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents")
      .withColumn("w", words(col("text")))
      .withColumn("n_words", size(col("w")))
      .withColumn("uniq_ratio",
        size(array_distinct(col("w"))).cast("double") / col("n_words"))
      .withColumn("seed_band",
        when(col("n_words") >= 20 && col("uniq_ratio") >= 0.3, lit("HIGH"))
          .when(col("n_words") >= 10, lit("MEDIUM"))
          .otherwise(lit("LOW")))
    val toks = docs.select(col("doc_id"), col("seed_band"),
      explode(col("w")).as("t"))
    val model = toks.filter(col("seed_band") =!= "MEDIUM")
      .groupBy(col("t"))
      .agg(
        sum(when(col("seed_band") === "HIGH", 1L).otherwise(0L)).as("c_hq"),
        sum(when(col("seed_band") === "LOW", 1L).otherwise(0L)).as("c_lq"))
      .withColumn("s",
        floor(((col("c_hq") - col("c_lq")) * lit(1000000L)).cast("double") /
          (col("c_hq") + col("c_lq") + lit(2L))).cast("long"))
    toks
      .join(model.select(col("t"), col("s")), Seq("t"), "left_outer")
      .groupBy(col("doc_id"), col("seed_band"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("s"), lit(0L))).as("score"))
      .withColumn("pred_high", col("score") > 0)
  }

  val t19Sql: String =
    """WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |lab AS (
      |  SELECT doc_id, w,
      |    CASE WHEN len(w) >= 20 AND
      |              CAST(len(list_distinct(w)) AS DOUBLE) / len(w) >= 0.3
      |           THEN 'HIGH'
      |         WHEN len(w) >= 10 THEN 'MEDIUM'
      |         ELSE 'LOW' END AS seed_band
      |  FROM base),
      |toks AS (
      |  SELECT doc_id, seed_band, unnest(w) AS t FROM lab),
      |model AS (
      |  SELECT t,
      |    CAST(floor(CAST((sum(CASE WHEN seed_band = 'HIGH' THEN 1 ELSE 0 END)
      |                     - sum(CASE WHEN seed_band = 'LOW' THEN 1 ELSE 0 END))
      |                    * 1000000 AS DOUBLE) /
      |               (sum(CASE WHEN seed_band <> 'MEDIUM' THEN 1 ELSE 0 END) + 2))
      |      AS BIGINT) AS s
      |  FROM toks WHERE seed_band <> 'MEDIUM' GROUP BY 1)
      |SELECT toks.doc_id, toks.seed_band,
      |  count(*) AS n_tokens,
      |  CAST(sum(coalesce(model.s, 0)) AS BIGINT) AS score,
      |  CAST(sum(coalesce(model.s, 0)) AS BIGINT) > 0 AS pred_high
      |FROM toks LEFT JOIN model ON toks.t = model.t
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------- t20 weighted sample

  /** t20: weighted k-sample without replacement — sequential Poisson
    * sampling (Ohlsson 1998, the order-sampling family PPS estimators
    * build on): each doc draws priority u/w (u uniform from the
    * 60-bit md5 hash, w = doc length in chars) and the k SMALLEST
    * priorities are the sample, so inclusion probability scales with
    * length — the token-budget-weighted corpus draw a mixture build
    * runs at 100 TB. Both u (an exact power-of-two division of an
    * exact integer) and u/w (ONE IEEE division) are deterministic and
    * cross-engine identical; doc_id breaks exact priority ties.
    *
    * Scale shape: priorities are a per-row projection; the k-smallest
    * selection is Spark's TakeOrderedAndProject — per-partition
    * top-k, then a k-row driver merge. Nothing global is ever sorted.
    */
  def t20WeightedSample(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(col("doc_id"), length(col("text")).as("weight"),
        (pmod(xhash64(concat_ws("|", lit("t20"),
          col("doc_id").cast("string"))), lit(1048576L)) + 1L).as("u_int"))
      .withColumn("priority",
        (col("u_int").cast("double") / lit(1048576.0)) /
          col("weight").cast("double"))
      .orderBy(col("priority").asc, col("doc_id").asc)
      .limit(100)

  val t20Sql: String = {
    val u = Norm.xhash64Sql("'t20' || '|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, length(text) AS weight,
       |  (($u) % 1048576 + 1048576) % 1048576 + 1 AS u_int,
       |  (CAST((($u) % 1048576 + 1048576) % 1048576 + 1 AS DOUBLE)
       |    / 1048576.0) / CAST(length(text) AS DOUBLE) AS priority
       |FROM documents
       |ORDER BY priority ASC, doc_id ASC LIMIT 100""".stripMargin
  }

  // ------------------------------------------------- t24 DSIR selection

  /** t24: DSIR-style data selection — importance resampling over
    * hashed n-gram features (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"). The target
    * distribution is the English slice of the corpus, the raw
    * distribution is the whole corpus; both are bag-of-hashed-n-gram
    * models over [[DsirBuckets]] = 8192 buckets, and the feature
    * stream is the paper's actual recipe — unigrams PLUS adjacent
    * bigrams (`a b`), both hashed into the shared bucket space (a
    * unigram can never collide with a bigram of itself: the bigram
    * string contains a space, the tokenizer's split char). Each
    * bucket scores the add-one-smoothed rate DIFFERENCE (same sign
    * as the DSIR log-ratio log p_target(b)/p_raw(b), the t19
    * discipline): s(b) =
    * floor(((c_t+1)/(n_t+B) − (c_r+1)/(n_r+B)) × 10^9). The two
    * divisions, the subtraction and the scale are ONE fixed IEEE
    * binary64 expression tree — correctly rounded identically in any
    * IEEE engine, so the per-doc BIGINT sums are partition-invariant
    * and cross-engine exact. The deterministic top-quota by
    * (score DESC, doc_id) replaces production DSIR's Gumbel-top-k
    * draw — t20's order-sampling priority drops in when a sampled
    * (rather than ranked) quota is wanted.
    *
    * Scale shape: the model is B=8192 rows no matter the corpus
    * size — the totals window runs over that bounded frame, never
    * the data; bigrams are a row-local slice+zip_with (no
    * self-join, no shuffle — the feature stream just doubles);
    * scoring is one equi-join of the feature stream against the
    * (auto-broadcast) bucket table + one partial-aggregable per-doc
    * groupBy; the quota is TakeOrderedAndProject (per-partition
    * top-k, k-row driver merge — no global sort). At 100 TB the only
    * corpus-sized exchanges are the bucket groupBy and the doc
    * groupBy, both map-side combinable.
    */
  /** ONE bucket-count constant for t24's engine, oracle, and spec
    * replay — B appears in the hash modulus AND the smoothing
    * denominators, so a drifted copy would silently desynchronize
    * the model from the SQL it is hash-compared against.
    */
  val DsirBuckets: Long = 8192L

  /** The unigram+bigram feature expansion over any documents frame
    * (batch read OR stream — the a43 one-Column-algebra discipline):
    * adds `feats`, the array of hashed-feature inputs.
    */
  private def withT24Feats(docs0: DataFrame): DataFrame =
    docs0
      .withColumn("ws", words(col("text")))
      // unigrams ++ adjacent bigrams, row-local: slice lengths are
      // size-1 >= 0 for any non-null text (split yields >= 1 token),
      // so the zip_with pair stream is empty — not an error — on
      // one-token docs; null text drops at the explode like before
      .withColumn("feats", concat(col("ws"),
        zip_with(
          expr("slice(ws, 1, size(ws) - 1)"),
          expr("slice(ws, 2, size(ws) - 1)"),
          (a, b) => concat(a, lit(" "), b))))

  private def t24Bucket(t: Column): Column =
    pmod(xhash64(concat_ws("|", lit("t24"), t)), lit(DsirBuckets))

  /** The hashed-feature stream (doc_id, lang, source, bucket): one
    * definition for the model build and the application pass.
    */
  private def t24Features(s: SparkSession, d: String): DataFrame =
    withT24Feats(Tables.load(s, d, "documents"))
      // explode_OUTER + a post-generate null filter ≡ explode here
      // (split yields ≥1 non-null token, so feats is null only when
      // text is; an outer generate turns that row into one null t,
      // dropped by the filter exactly like the inner explode dropped
      // the null array) — chosen because the optimizer infers a
      // `size(feats)>0 AND isnotnull(feats)` pre-Generate filter for
      // an INNER explode that re-evaluates the whole split+zip_with
      // feature expression per row (round-16 plan dump: the scan
      // filter carried two copies of it; ~10% of t24 measured)
      .select(col("doc_id"), col("lang"), col("source"),
        explode_outer(col("feats")).as("t"))
      .filter(col("t").isNotNull)
      .withColumn("b", t24Bucket(col("t")))

  /** The model's bucket-count aggregation over any documents frame —
    * the SAME Column algebra whether the frame is a batch read (the
    * memoized model build) or a stream (t25's complete-mode state),
    * so the two cannot diverge. Output is BOUNDED: ≤ B rows.
    */
  private[graft] def t24BucketCounts(docs0: DataFrame): DataFrame =
    withT24Feats(docs0)
      // same explode_outer-equivalence as t24Features (stream-safe:
      // stateless generate + filter)
      .select(col("lang"), explode_outer(col("feats")).as("t"))
      .filter(col("t").isNotNull)
      .withColumn("b", t24Bucket(col("t")))
      .groupBy(col("b"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"),
        count(lit(1)).as("c_r"))

  /** The smoothed-rate-difference scoring read-off over a bucket
    * count relation (bounded — the totals window runs over ≤ B
    * rows, never data): one code path for the batch model and the
    * streamed state, the a46/a47 estimator-sharing discipline.
    */
  private[graft] def t24ScoreFrom(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = DsirBuckets
    val whole = Window.partitionBy(lit(1))
    counts
      .withColumn("n_t", sum(col("c_t")).over(whole))
      .withColumn("n_r", sum(col("c_r")).over(whole))
      .select(col("b"), floor(
        ((col("c_t") + 1L).cast("double") / (col("n_t") + B).cast("double")
          - (col("c_r") + 1L).cast("double") / (col("n_r") + B).cast("double"))
          * lit(1000000000.0)).cast("long").as("s"))
  }

  /** The trained DSIR bucket model — BOUNDED (B rows) — persisted
    * and memoized per (session, input): production DSIR trains the
    * importance model once and applies it to any number of selection
    * passes, so the registered query's steady-state cost is the
    * application join, not the training scan (the d3 shared-index /
    * ann1 truth-table discipline, here at model scale — the at-rest
    * artifact is 8192 rows regardless of corpus size).
    */
  private[graft] val t24Model: (SparkSession, String) => DataFrame =
    graft.functions.Memo.memoizedTable("text.t24Model") { (s, d) =>
      t24ScoreFrom(t24BucketCounts(Tables.load(s, d, "documents")))
    }

  def t24DsirSelect(s: SparkSession, d: String): DataFrame =
    t24Features(s, d)
      .join(t24Model(s, d), Seq("b"))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(count(lit(1)).as("n_feats"), sum(col("s")).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id").asc)
      .limit(150)

  /** The model-side CTE chain (feature expansion → bucket counts →
    * scored model), shared verbatim by t24's oracle and t25's — the
    * same one-definition rule as the engine's [[t24BucketCounts]] /
    * [[t24ScoreFrom]] pair.
    */
  private val t24ModelSqlCtes: String = {
    val h = Norm.xhash64Sql("'t24' || '|' || t")
    val B = DsirBuckets
    s"""ds AS (
       |  SELECT doc_id, lang, source, string_split(text, ' ') AS ws
       |  FROM documents),
       |feats AS (
       |  SELECT doc_id, lang, source,
       |    unnest(ws || list_transform(range(1, len(ws)), i ->
       |      ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)])) AS t
       |  FROM ds),
       |bucketed AS (
       |  SELECT doc_id, lang, source,
       |    (($h) % $B + $B) % $B AS b
       |  FROM feats),
       |model AS (
       |  SELECT b,
       |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t,
       |    count(*) AS c_r
       |  FROM bucketed GROUP BY 1),
       |scored AS (
       |  SELECT b,
       |    CAST(floor(
       |      (CAST(c_t + 1 AS DOUBLE) / CAST(sum(c_t) OVER () + $B AS DOUBLE)
       |       - CAST(c_r + 1 AS DOUBLE) / CAST(sum(c_r) OVER () + $B AS DOUBLE))
       |      * 1000000000.0) AS BIGINT) AS s
       |  FROM model)""".stripMargin
  }

  val t24Sql: String =
    s"""WITH $t24ModelSqlCtes
       |SELECT d.doc_id, d.lang, d.source,
       |  count(*) AS n_feats, CAST(sum(m.s) AS BIGINT) AS dsir_score
       |FROM bucketed d JOIN scored m ON d.b = m.b
       |GROUP BY 1, 2, 3
       |ORDER BY dsir_score DESC, doc_id ASC LIMIT 150""".stripMargin

  // ---------------------------------------------- t25 streaming DSIR

  /** The documents corpus as a (doc_id, text, lang) parquet feed for
    * t25's streaming arm — the dedup docsFeed pattern with the lang
    * column the model needs riding along.
    */
  private val t25Feed: (SparkSession, String) => String =
    graft.functions.Memo.memoizedValue("text.t25Feed") { (s, d) =>
      val feed = graft.operators.Migrate.tempDir("t25_feed") + "/feed"
      Tables.load(s, d, "documents").repartition(8)
        .select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").parquet(feed)
      feed
    }

  graft.functions.Memo.memoWarmers.put("text.t25Feed",
    (s: SparkSession, d: String) => s.read.parquet(t25Feed(s, d)))

  /** t25: the DSIR importance model maintained ONLINE — the shape a
    * production corpus actually trains it in, since the target/raw
    * bucket counts are exactly the kind of additive bounded state a
    * streaming ingest keeps next to its drift/cardinality monitors
    * (the a43/a46/a47/a48 family, extended to the SELECTION model).
    * A complete-mode streaming aggregation over the documents feed
    * maintains the ≤ B-row (b, c_t, c_r) table — per micro-batch the
    * feature expansion is row-local and the counts merge by
    * addition, map-side combined — and the smoothed-rate scoring is
    * applied to the emitted state through [[t24ScoreFrom]], the SAME
    * code path as the batch model, so the online model cannot drift
    * from the selector it feeds. The oracle is the batch model SQL
    * (t24's own scored CTE): hash equality IS the stream ≡ batch
    * equivalence proof (a48/w12's pattern). At 100 TB the state
    * stays model-sized (8192 rows); the corpus never re-scans.
    */
  def t25StreamingDsirModel(s: SparkSession, d: String): DataFrame =
    t24ScoreFrom(graft.streaming.StreamRun.completeArm(s,
      "t25_model_counts", t25Feed(s, d),
      "doc_id LONG, text STRING, lang STRING")(t24BucketCounts))

  /** The batch model replayed from the raw corpus — hash equality
    * with the streamed state is the equivalence proof.
    */
  val t25Sql: String =
    s"""WITH $t24ModelSqlCtes
       |SELECT b, s FROM scored""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("t17_bigram_lm", t17BigramLm, t17Sql),
    Query("t24_dsir_select", t24DsirSelect, t24Sql),
    Query("t25_streaming_dsir_model", t25StreamingDsirModel, t25Sql),
    Query("t21_ccnet_buckets", t21CcnetBuckets, t21Sql),
    Query("t18_gopher_repetition", t18GopherRepetition, t18Sql),
    Query("t19_nb_quality", t19NbQuality, t19Sql),
    Query("t20_weighted_sample", t20WeightedSample, t20Sql),
    Query("t16_bpe_merges", t16BpeMerges, t16Sql),
    Query("t22_bpe_encode", t22BpeEncode, t22Sql),
    Query("t23_bpe_packing", t23BpePacking, t23Sql),
    Query("pipe10_gate_ablation", pipe10GateAblation, pipe10Sql),
    Query("t11_lexicon_profile", t11LexiconProfile, t11Sql),
    Query("pipe4_curation", pipe4Curation, pipe4Sql),
    Query("t12_context_chunks", t12ContextChunks, t12Sql),
    Query("t13_repetition_filter", t13RepetitionFilter, t13Sql),
    Query("t1_lang_id", t1LangId, t1Sql),
    Query("t2_quality_score", t2QualityScore, t2Sql),
    Query("t3_token_count", t3TokenCount, t3Sql),
    Query("t4_fingerprint", t4Fingerprint, t4Sql),
    Query("t5_winnow_fingerprint", t5WinnowFingerprint, t5Sql),
    Query("t6_hash_sample", t6HashSample, t6Sql),
    Query("t7_decontaminate", t7Decontaminate, t7Sql),
    Query("t8_stratified_sample", t8StratifiedSample, t8Sql),
    Query("t9_sequence_packing", t9SequencePacking, t9Sql),
    Query("t10_pii_scrub", t10PiiScrub, t10Sql),
    Query("pipe1_training_pipeline", pipe1TrainingPipeline, pipe1Sql),
    Query("pipe5_token_mixture", pipe5TokenMixture, pipe5Sql),
    Query("pipe13_weighted_mixture", pipe13WeightedMixture, pipe13Sql),
    Query("pipe6_incremental_curation", pipe6IncrementalCuration, pipe6Sql),
    Query("t14_rarity_profile", t14RarityProfile, t14Sql),
    Query("t15_tfidf_keywords", t15TfidfKeywords, t15Sql),
    Query("pipe9_temperature_mixture", pipe9TemperatureMixture, pipe9Sql),
    Query("pipe7_dataset_card", pipe7DatasetCard, pipe7Sql))
}
