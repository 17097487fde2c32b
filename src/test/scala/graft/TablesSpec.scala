package graft

import org.apache.spark.sql.types.{DataType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("concurrent events and orders loads leave nanosAsLong off") {
    // events loads flip the session-wide legacy flag; interleaved
    // flips must neither leak it nor leak into another table's load
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def flag: Boolean = spark.conf.get(key).toBoolean
    def orderDate: DataType =
      Tables.load(spark, sf, "orders").schema("o_orderdate").dataType
    assert(!flag)
    val alone = orderDate
    assert(operators.Catalog.canonicalType(alone) == "TIMESTAMP")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val types =
      try (0 until 64).map { i =>
        pool.submit(() =>
          if (i % 2 == 0) "events" ->
            Tables.load(spark, sf, "events").schema("ts").dataType
          else "orders" -> orderDate
        ): java.util.concurrent.Future[(String, DataType)]
      }.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      finally pool.shutdown()
    assert(types.distinct.toSet ==
      Set("events" -> TimestampType, "orders" -> alone))
    assert(!flag)
    assert(orderDate == alone)
  }
}
