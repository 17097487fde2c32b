package graft.streaming

import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo,
  PreparedStatement, Types}
import java.lang.reflect.{InvocationHandler, Method, Proxy}

/** JDBC adapter that grants `REPLACE INTO` grammar to targets that
  * lack it: `jdbc:graftreplace:<delegate-url>` opens the delegate
  * connection and rewrites every prepared multi-row
  * `REPLACE INTO t (c1, …, cn) VALUES (?,…),(?,…)` into the portable
  * delete-by-key + insert pair ON THE DELEGATE, preserving REPLACE's
  * observable semantics for a feed where each statement carries at
  * most one row per key (the [[Cdc.lastChange]] contract; MySQL's own
  * REPLACE processes duplicate keys within one statement
  * last-write-wins, which a delete-all-then-insert-all rewrite cannot
  * express — documented, not needed here). The key is the FIRST column
  * of the column list, matching the sink's (k, scn, seq, v) layout.
  *
  * Why this exists: [[Cdc.applyReplace]] is the reference's MySQL
  * safe-mode sink (multi-row REPLACE batches of
  * [[Cdc.ReplaceRowsPerStmt]], remainder via a batched single-row
  * statement — `module/migrate/sql/oracle/o2m/translate.go:34-145`),
  * and its parameter-offset binding and remainder control flow
  * deserve the same end-to-end hash contract as the MERGE sink. No
  * REPLACE-grammar server exists in the sandbox, so the grammar is
  * translated at the driver seam — everything above it (statement
  * text, bind offsets, executeUpdate/executeBatch flow) is the exact
  * production path a MySQL URL would take; only the final grammar
  * differs, and the c6c/c6d/pipe3 oracle hashes prove the translation
  * lands the same state. Doubles as a genuine portability layer: the
  * safe-mode sink pointed at any JDBC target.
  *
  * Scope: only the methods the sink actually calls are rewritten
  * (setLong/setDouble/setNull/setObject, executeUpdate, addBatch,
  * executeBatch, close); everything else proxies straight through to
  * the delegate.
  */
object ReplaceShim {

  final val Prefix = "jdbc:graftreplace:"

  private object ShimDriver extends Driver {
    override def acceptsURL(url: String): Boolean =
      url != null && url.startsWith(Prefix)
    override def connect(url: String,
        info: java.util.Properties): Connection =
      if (!acceptsURL(url)) null
      else wrapConnection(
        DriverManager.getConnection(url.substring(Prefix.length), info))
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def getPropertyInfo(url: String, info: java.util.Properties)
        : Array[DriverPropertyInfo] = Array.empty
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger: java.util.logging.Logger =
      java.util.logging.Logger.getLogger("graft.ReplaceShim")
  }

  @volatile private var registered = false

  /** Idempotent JVM-global registration; call before handing a
    * prefixed URL to anything that resolves through DriverManager.
    */
  def ensureRegistered(): Unit = if (!registered) synchronized {
    if (!registered) {
      DriverManager.registerDriver(ShimDriver)
      registered = true
    }
  }

  /** `url` behind the shim, registered first. */
  def wrap(url: String): String = { ensureRegistered(); Prefix + url }

  private val ReplacePattern =
    """(?is)\s*REPLACE\s+INTO\s+(\S+)\s*\(([^)]*)\)\s*VALUES\s*(.*)""".r

  private def wrapConnection(delegate: Connection): Connection =
    Proxy.newProxyInstance(
      delegate.getClass.getClassLoader,
      Array[Class[_]](classOf[Connection]),
      new InvocationHandler {
        override def invoke(proxy: AnyRef, method: Method,
            args: Array[AnyRef]): AnyRef = method.getName match {
          case "prepareStatement" if args != null && args.nonEmpty &&
              args(0).isInstanceOf[String] &&
              ReplacePattern.matches(args(0).asInstanceOf[String]) =>
            replaceStatement(delegate, args(0).asInstanceOf[String])
          case _ =>
            try method.invoke(delegate, args: _*)
            catch {
              case e: java.lang.reflect.InvocationTargetException =>
                throw e.getCause
            }
        }
      }).asInstanceOf[Connection]

  /** A PreparedStatement whose REPLACE executes as delete-by-key +
    * insert on the delegate. Parameter index i (1-based over
    * groups × columns) maps to group i/n, column i%n — the inverse of
    * the `bind(ps, base, row)` offset arithmetic under test.
    */
  private def replaceStatement(delegate: Connection,
      sql: String): PreparedStatement = {
    val ReplacePattern(table, colList, _) = sql: @unchecked
    val cols = colList.split(",").map(_.trim)
    val nCols = cols.length
    // group count = number of '(' in the VALUES tail; the statement
    // text is machine-built by Cdc.replaceSql, never hand-written
    val nGroups = sql.substring(sql.toUpperCase.indexOf("VALUES"))
      .count(_ == '(')
    val del = delegate.prepareStatement(
      s"DELETE FROM $table WHERE ${cols.head} = ?")
    val ins = delegate.prepareStatement(
      s"INSERT INTO $table ($colList) VALUES " +
        ("(" + Seq.fill(nCols)("?").mkString(", ") + ")"))
    // NULL carries its declared SQL type so the delegate bind is a
    // true typed setNull, not a type-guessing setObject(null)
    final case class TypedNull(sqlType: Int)
    val params = new Array[AnyRef](nGroups * nCols)

    def delBatch(sets: Seq[Array[AnyRef]]): Unit = {
      for (p <- sets; g <- 0 until nGroups) {
        del.setObject(1, p(g * nCols))
        del.addBatch()
      }
      del.executeBatch(): Unit
    }
    def insBatch(sets: Seq[Array[AnyRef]]): Unit = {
      for (p <- sets; g <- 0 until nGroups) {
        (0 until nCols).foreach { c =>
          p(g * nCols + c) match {
            case TypedNull(t) => ins.setNull(c + 1, t)
            case v => ins.setObject(c + 1, v)
          }
        }
        ins.addBatch()
      }
      ins.executeBatch(): Unit
    }

    def runGroups(sets: Seq[Array[AnyRef]]): Int = {
      // real REPLACE is last-write-wins in STATEMENT order; batching
      // all deletes before all inserts preserves that only when no
      // key repeats across the batched statements (a repeated key
      // would get delete,delete,insert,insert — a duplicate-key
      // failure, or two rows on a PK-less table). The production feed
      // (Cdc.lastChange) emits globally distinct keys, so the
      // two-phase fast path is the common case; a general caller with
      // duplicate keys ACROSS statements gets the per-statement
      // interleave instead of a silently diverging answer. (A key
      // repeated WITHIN one multi-row statement remains out of scope:
      // Cdc.replaceSql statements carry one row per key by
      // construction, and such a statement would surface as a
      // duplicate-key error here, never as wrong data.)
      val allKeys = sets.flatMap(p => (0 until nGroups).map(g => p(g * nCols)))
      if (allKeys.distinct.size == allKeys.size) {
        delBatch(sets)
        insBatch(sets)
      } else
        sets.foreach { p => delBatch(Seq(p)); insBatch(Seq(p)) }
      // MySQL reports delete+insert as 2 affected rows; nothing above
      // the seam reads this, so the insert count suffices
      sets.size * nGroups
    }

    val batch = scala.collection.mutable.ArrayBuffer.empty[Array[AnyRef]]
    val handler = new InvocationHandler {
      override def invoke(proxy: AnyRef, method: Method,
          args: Array[AnyRef]): AnyRef = method.getName match {
        case "setLong" | "setDouble" | "setInt" | "setString" |
            "setObject" =>
          params(args(0).asInstanceOf[Int] - 1) = args(1)
          null
        case "setNull" =>
          params(args(0).asInstanceOf[Int] - 1) =
            TypedNull(args(1).asInstanceOf[Int])
          null
        case "executeUpdate" =>
          Int.box(runGroups(Seq(params.clone())))
        case "addBatch" =>
          batch += params.clone(); null
        case "executeBatch" =>
          val counts = Array.fill(batch.size)(nGroups)
          runGroups(batch.toSeq); batch.clear()
          counts
        case "close" =>
          del.close(); ins.close(); null
        case "isClosed" => Boolean.box(del.isClosed)
        case n =>
          throw new UnsupportedOperationException(
            s"ReplaceShim statement does not rewrite $n")
      }
    }
    Proxy.newProxyInstance(delegate.getClass.getClassLoader,
      Array[Class[_]](classOf[PreparedStatement]), handler)
      .asInstanceOf[PreparedStatement]
  }
}
