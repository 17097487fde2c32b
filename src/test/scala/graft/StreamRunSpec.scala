package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Cdc, StreamRun}

class StreamRunSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("stream width: unset is 4; a positive integer is taken as is") {
    assert(StreamRun.streamWidth(None) == 4)
    assert(StreamRun.streamWidth(Some("2")) == 2)
    assert(StreamRun.streamWidth(Some(" 16 ")) == 16)
  }

  test("stream width: zero, negative, non-numeric, empty and " +
    "out-of-Int-range values fail naming the variable") {
    for (bad <- Seq("0", "-1", "abc", "", "+4", "99999999999")) {
      val e = intercept[IllegalArgumentException] {
        StreamRun.streamWidth(Some(bad))
      }
      assert(e.getMessage.contains(
        s"SPARK_GRAFT_STREAM_SHUFFLE must be a positive integer, got '$bad'"),
        e.getMessage)
    }
  }

  test("a stream that does not drain in time fails by name and is " +
    "stopped") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_srun")
    val feed = s"$tmp/feed"
    Cdc.eventsAsChanges(spark, sf).limit(20).write.parquet(feed)
    // a processing-time timeout keeps scheduling batches, so this
    // query never self-terminates under AvailableNow (its scaladoc)
    val q = Cdc.trackKeyProgress(spark, feed, s"$tmp/out", s"$tmp/ckpt")
    val e = intercept[IllegalArgumentException] {
      StreamRun.await("track", q, timeoutMs = 3000L)
    }
    assert(e.getMessage.contains("track stream did not terminate within 3 s"),
      e.getMessage)
    assert(!q.isActive)
    assert(spark.streams.active.isEmpty)
  }
}
