package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loading for the driver-generated testdata layout
  * (`TESTDATA.md`): one parquet file per table under an sf dir.
  *
  * At cluster scale the same entry point takes a directory of many
  * parquet files per table; `spark.read.parquet` splits by row-group,
  * so nothing here assumes a single file.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Guards `spark.sql.legacy.parquet.nanosAsLong`, a session-wide
    * flag: [[readNanosAsLong]] flips it under the write side, every
    * other parquet read here resolves its schema under the read side.
    * Without it two interleaved flips can leave the flag set for the
    * rest of the session (each restores what the other set), and a
    * concurrent load of a table with TIMESTAMP(NANOS) columns would
    * infer them as LONG.
    */
  private val nanosFlag = new java.util.concurrent.locks.ReentrantReadWriteLock

  private def locked[T](l: java.util.concurrent.locks.Lock)(body: => T): T = {
    l.lock()
    try body finally l.unlock()
  }

  /** Parquet read whose schema resolves while no nanos flip is live. */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    locked(nanosFlag.readLock())(spark.read.parquet(paths: _*))

  /** Parquet read with TIMESTAMP(NANOS) columns surfaced as nanos
    * longs (the legacy flag), set and restored under the write lock.
    */
  def readNanosAsLong(spark: SparkSession, path: String): DataFrame =
    locked(nanosFlag.writeLock()) {
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try spark.read.parquet(path)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts encoding depends on the generator run: earlier
      // rounds wrote TIMESTAMP(NANOS) (which Spark 4 refuses to read
      // as a timestamp — the legacy flag surfaces it as a nanos
      // long), round 7 writes TIMESTAMP(MICROS) (read natively as
      // NTZ). Normalize BOTH to TimestampType so every downstream
      // consumer sees one type regardless of the file vintage.
      val df = readNanosAsLong(spark, s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // nanos-as-long vintage: truncate to µs (floor — matching
          // DuckDB's second-level truncation downstream)
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ =>
          // µs vintage (NTZ under inferTimestampNTZ); host/session
          // zone is UTC, so the LTZ cast is value-preserving
          df.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else readParquet(spark, s"$dir/$name.parquet")

  /** Memoized table schema. Each `load(...).schema` costs a driver-side
    * footer read; catalog operators (snapshot, check, reverse) ask for
    * the same schemas repeatedly, and at a 100×-table catalog the
    * repeated listing is the bottleneck. Keyed by (dir, table) — the
    * testdata is immutable per run; a mutating-catalog deployment
    * would key by snapshot id instead.
    */
  private val schemaCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, String), org.apache.spark.sql.types.StructType]

  def schemaOf(spark: SparkSession, dir: String,
      name: String): org.apache.spark.sql.types.StructType =
    schemaCache.getOrElseUpdate((dir, name), load(spark, dir, name).schema)
}
