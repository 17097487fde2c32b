package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Consistent-snapshot reads (S3) — the reference pins every chunk
  * query `AS OF SCN <n>` captured once per task
  * (`module/migrate/sql/oracle/o2m/table.go:89-102`, SCN capture
  * `database/oracle/full.go:28-40`).
  *
  * For file-based sources the snapshot identity is the file LISTING:
  * within one Spark job all partitions already see one listing, but a
  * multi-job task (migrate, then compare, then fix) must pin the
  * listing ONCE and reuse it, or a file landing mid-task yields
  * torn reads. [[pin]] captures the listing; [[read]] replays it —
  * files appended to the directory afterwards stay invisible, the
  * flashback-query analogue. (Delta/Iceberg time travel slots in
  * here when the table format provides versions.)
  */
object Snapshot {

  /** Capture the current immutable file set of a parquet table. */
  def pin(s: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else if (fs.getFileStatus(p).isFile) Seq(p.toString)
    else
      fs.listStatus(p).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
          && !st.getPath.getName.startsWith("."))
        .map(_.getPath.toString)
        .sorted
  }

  /** Read exactly the pinned file set. */
  def read(s: SparkSession, files: Seq[String]): DataFrame =
    graft.Tables.readParquet(s, files: _*)

  /** Table `t` of the dataset at `d`. With `consistent`, the frame
    * reads a listing pinned now, so files landing later stay
    * invisible to every job over it. events always reads through
    * [[graft.Tables.load]], which owns its vintage-dependent
    * timestamp normalization; so does a table with nothing to pin.
    */
  def load(s: SparkSession, d: String, t: String,
      consistent: Boolean): DataFrame = {
    val files =
      if (consistent && t != "events") pin(s, s"$d/$t.parquet") else Nil
    if (files.isEmpty) graft.Tables.load(s, d, t) else read(s, files)
  }
}
