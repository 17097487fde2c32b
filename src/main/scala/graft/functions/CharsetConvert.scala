package graft.functions

import java.nio.charset.Charset

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Charset conversion (F1) — the reference routes every identifier
  * and value through `CharsetConvert(source→UTF8MB4→target)`
  * (`common/strings.go:383-451`; supported set `common/reverse.go:81`:
  * UTF8MB4, GBK, BIG5, GB18030).
  *
  * Spark strings are UTF-8 internally, so conversion is an
  * encode/decode at the byte boundary. This is the one operator
  * family where a udf is the honest tool (SURVEY §2.9): there is no
  * built-in GBK/Big5 codec Column function, and `java.nio.charset`
  * carries the tables. Unmappable characters degrade to '?' — Java's
  * standard replacement, deterministic, and surfaced by the
  * `roundtrip_ok` flag rather than hidden.
  *
  * The oracle is a GOLDEN fixture: expected byte hex generated once
  * with `java.nio.charset` itself (the library under test cannot be
  * re-derived in DuckDB, which has no legacy codecs) — so the query
  * verifies the udf plumbing and pins the encodings against change.
  */
object CharsetConvert {

  val supported: Seq[String] = Seq("GBK", "Big5", "GB18030")

  /** UTF-8 string → target-charset bytes (replacement on unmappable). */
  val encodeUdf = udf((s: String, cs: String) =>
    Option(s).map(_.getBytes(Charset.forName(cs))))

  /** target-charset bytes → UTF-8 string. */
  val decodeUdf = udf((b: Array[Byte], cs: String) =>
    Option(b).map(new String(_, Charset.forName(cs))))

  /** Fixture: ASCII, CJK simplified (lossy under Big5), traditional,
    * mixed, fullwidth — with golden hex per charset generated by the
    * JVM's own codec tables.
    */
  val fixtures: Seq[(Int, String)] = Seq(
    0 -> "hello world",
    1 -> "naive cafe 123",
    2 -> "中文测试",
    3 -> "漢字傳統",
    4 -> "混合 mixed 文本",
    5 -> "ＡＢＣ１２３")

  val golden: Seq[(Int, String, String, Boolean)] = Seq(
    (0, "GBK", "68656C6C6F20776F726C64", true),
    (0, "Big5", "68656C6C6F20776F726C64", true),
    (0, "GB18030", "68656C6C6F20776F726C64", true),
    (1, "GBK", "6E61697665206361666520313233", true),
    (1, "Big5", "6E61697665206361666520313233", true),
    (1, "GB18030", "6E61697665206361666520313233", true),
    (2, "GBK", "D6D0CEC4B2E2CAD4", true),
    (2, "Big5", "A4A4A4E53F3F", false), // 测试 unmappable → '?' bytes
    (2, "GB18030", "D6D0CEC4B2E2CAD4", true),
    (3, "GBK", "9D68D7D682F7BD79", true),
    (3, "Big5", "BA7EA672B6C7B2CE", true),
    (3, "GB18030", "9D68D7D682F7BD79", true),
    (4, "GBK", "BBECBACF206D6978656420CEC4B1BE", true),
    (4, "Big5", "B256A658206D6978656420A4E5A5BB", true),
    (4, "GB18030", "BBECBACF206D6978656420CEC4B1BE", true),
    (5, "GBK", "A3C1A3C2A3C3A3B1A3B2A3B3", true),
    (5, "Big5", "A2CFA2D0A2D1A2B0A2B1A2B2", true),
    (5, "GB18030", "A3C1A3C2A3C3A3B1A3B2A3B3", true))

  // ------------------------------------------------------------- queries

  /** f1: encode every fixture under every charset, report hex and
    * whether decode(encode(x)) round-trips. Both directions run on
    * the NATIVE codegen Expression pair ([[graft.plans.CharsetEncode]]
    * / [[graft.plans.CharsetDecode]]) — the charset is fixed per
    * branch, so each union branch plans with its literal charset and
    * the whole row stays inside whole-stage codegen; the udfs above
    * remain the tool for per-row-dynamic charsets only.
    *
    * Bench note (adjudicating f1's ~2 s bench entry): measured in one
    * JVM, run 1 = 2.06 s, runs 2-3 = 0.17 s. The gap is one-time
    * per-JVM cost (function registration, first local-relation plan,
    * janino compile of the three-branch CASE) — FIXED overhead that a
    * single-sample bench charges to this 18-row query; the data path
    * itself is codegen'd and trivially scan-bound.
    */
  def f1Charset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.plans.CharsetEncode.register(s)
    graft.plans.CharsetDecode.register(s)
    val base = fixtures.flatMap { case (id, text) =>
      supported.map(cs => (id, cs, text))
    }.toDF("id", "charset", "text")
    // one plan, one codegen unit: the charset dispatch is a CASE over
    // the three fixed-charset native expressions (each branch carries
    // its literal charset), not a per-charset union — union branches
    // each pay plan + janino compile, which dominated an 18-row query
    def dispatch(f: String => org.apache.spark.sql.Column) =
      supported.tail.foldLeft(
        when(col("charset") === supported.head, f(supported.head))) {
        (acc, cs) => acc.when(col("charset") === cs, f(cs))
      }
    base
      .withColumn("enc",
        dispatch(cs => call_function("charset_encode", col("text"), lit(cs))))
      .withColumn("hex_bytes", upper(hex(col("enc"))))
      .withColumn("roundtrip_ok",
        dispatch(cs => call_function("charset_decode", col("enc"), lit(cs)))
          === col("text"))
      .select("id", "charset", "hex_bytes", "roundtrip_ok")
  }

  val f1Sql: String = {
    val values = golden.map { case (id, cs, hx, ok) =>
      s"($id, '$cs', '$hx', ${if (ok) "TRUE" else "FALSE"})"
    }.mkString(",\n  ")
    s"""SELECT id, charset, hex_bytes, roundtrip_ok
       |FROM (VALUES
       |  $values) g(id, charset, hex_bytes, roundtrip_ok)""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("f1_charset", f1Charset, f1Sql))
}
