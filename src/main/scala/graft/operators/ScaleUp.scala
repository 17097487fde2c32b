package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus scale-up BY THE ENGINE: replicate a testdata scale factor N×
  * with per-copy key offsets, producing a directory [[graft.Tables]]
  * reads unchanged. This is the scale-cliff detector's input — the
  * sf0.1 bench can't see a plan whose cost curve bends (a pair join
  * gone quadratic, a driver collect growing with the data), so once
  * per round ScaleSpec replays the most expensive queries against a
  * 10× replica and asserts no query exceeds 10× its measured small
  * time.
  *
  * Replication preserves the workload's SHAPE, not just its size:
  *
  *  - every fact key offsets by `copy * KeyOffset` and every FK into a
  *    replicated table offsets identically, so join fan-outs stay 1:1
  *    (orders copy k joins customer copy k, never all ten);
  *  - dimension tables (region, nation) pass through — FK targets must
  *    not fan out;
  *  - document text gets a per-copy word tag (copy 0 verbatim), making
  *    shingle/minhash/simhash spaces copy-disjoint: the corpus grows
  *    10× with the same WITHIN-copy near-dup structure, instead of
  *    every doc gaining 9 artificial exact twins whose candidate pairs
  *    would grow quadratically by construction (a data artifact, not a
  *    plan property);
  *  - events.ts stays nanos-as-long on disk, preserving the
  *    TIMESTAMP(NANOS) read contract Tables.load handles.
  */
object ScaleUp {

  /** Between-copy key offset — a power of two far above every testdata
    * key (max real key at sf0.1 is l_orderkey ≈ 6×10⁵), so copy key
    * spaces cannot collide and `key + copy * KeyOffset` never
    * overflows at any plausible copy count.
    */
  val KeyOffset: Long = 1L << 33

  def replicate(s: SparkSession, srcDir: String, outDir: String,
      copies: Int): Unit = {
    require(copies >= 1, "copies must be >= 1")

    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")

    // dimensions pass through: FK targets must not fan out
    write(graft.Tables.readParquet(s, s"$srcDir/region.parquet"), "region")
    write(graft.Tables.readParquet(s, s"$srcDir/nation.parquet"), "nation")

    /** One generate-per-copy pass: explode a [0, copies) sequence (no
      * self-union chain — one scan of the source however many copies),
      * offset the named key columns, apply `extra`, drop the marker.
      */
    def rep(name: String, keys: Seq[String],
        extra: DataFrame => DataFrame = identity,
        read: String => DataFrame =
          p => graft.Tables.readParquet(s, p)): Unit = {
      val base = read(s"$srcDir/$name.parquet")
        .withColumn("copy_i", explode(sequence(lit(0L), lit(copies - 1L))))
      val offset = keys.foldLeft(base) { (df, k) =>
        df.withColumn(k, col(k) + col("copy_i") * KeyOffset)
      }
      write(extra(offset).drop("copy_i"), name)
    }

    rep("customer", Seq("c_custkey"))
    rep("supplier", Seq("s_suppkey"))
    rep("part", Seq("p_partkey"))
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    // events: read nanos-as-long (the Tables.load contract) so ts
    // round-trips as a plain BIGINT the downstream read contract knows
    rep("events", Seq("event_id", "user_id"),
      read = p => graft.Tables.readNanosAsLong(s, p))
    rep("documents", Seq("doc_id"), extra = df => df
      .withColumn("text",
        when(col("copy_i") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              w => concat(lit("c"), col("copy_i"), lit("~"), w)), " ")))
      .withColumn("n_chars", length(col("text")).cast("long")))
    rep("embeddings", Seq("vec_id"))
  }
}
