package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.{TableFilter, VersionUtil}
import graft.sources.Snapshot
import graft.reverse.Ddl

class FilterSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("glob forms: star, question, char class, negated class, literal") {
    val f = TableFilter.compile(include =
      Seq("c*", "na?ion", "[op]rders", "[!x]vents", "part"))
    assert(f.matches("customer"))
    assert(f.matches("nation"))
    assert(f.matches("orders"))
    assert(f.matches("events"))
    assert(f.matches("part"))
    assert(!f.matches("partsupp")) // literal, not prefix
    assert(!f.matches("lineitem"))
    // case-insensitive like the reference's (?i) compile
    assert(f.matches("CUSTOMER"))
  }

  test("exclude list prunes; include+exclude is a config error") {
    val f = TableFilter.compile(exclude = Seq("*item", "events"))
    assert(!f.matches("lineitem"))
    assert(!f.matches("events"))
    assert(f.matches("orders"))
    intercept[IllegalArgumentException] {
      TableFilter.compile(Seq("a*"), Seq("b*"))
    }
  }

  test("invalid patterns are syntax errors, not silent no-matches") {
    intercept[IllegalArgumentException](TableFilter.globToRegex("a,b"))
    intercept[IllegalArgumentException](TableFilter.globToRegex("a[bc"))
  }

  test("property: literal alnum patterns match exactly themselves") {
    val gen = for {
      n <- Gen.choose(1, 20)
      cs <- Gen.listOfN(n, Gen.alphaNumChar)
    } yield cs.mkString
    val prop = Prop.forAll(gen, gen) { (a, b) =>
      val f = TableFilter.compile(include = Seq(a))
      f.matches(a) && (f.matches(b) == a.equalsIgnoreCase(b))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("driver filter and Column predicate agree on the table listing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pats = Seq("[cn]*", "*s", "part")
    val viaCol = Tables.all.toDF("t")
      .filter(TableFilter.predicate(col("t"), pats))
      .collect().map(_.getString(0)).toSet
    val viaDriver = Tables.all
      .filter(TableFilter.compile(include = pats).matches).toSet
    assert(viaCol == viaDriver)
  }

  test("version ordinal compare (F7)") {
    assert(VersionUtil.compare("11.2.0.4", "11.2") > 0)
    assert(VersionUtil.compare("5.7", "5.7.0") == 0)
    assert(VersionUtil.compare("8.0", "11.1") < 0)
    assert(VersionUtil.compare("10.10", "10.9") > 0) // numeric, not lexical
    assert(VersionUtil.atLeast("11.2.0.4", "11.2"))
    assert(!VersionUtil.atLeast("10.9", "11"))
  }

  test("pinned snapshot read ignores files landing after the pin (S3)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_snap")
      .toString
    val dir = s"$root/t.parquet"
    Seq(1L, 2L, 3L).toDF("v").coalesce(1).write.parquet(dir)
    val pinned = Snapshot.load(spark, root, "t", consistent = true)
    assert(pinned.count() == 3)
    // the frame reads the pinned file list, not the directory: a
    // directory frame also keeps its first listing, but any re-listing
    // of it would pick up files landing later
    val roots = pinned.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toUri.getPath)
    }.flatten
    assert(roots.nonEmpty && !roots.contains(dir), roots.toString)
    // a late-arriving file changes the dir, not the snapshot
    Seq(4L, 5L).toDF("v").coalesce(1).write.mode("append").parquet(dir)
    assert(pinned.count() == 3)
    assert(pinned.inputFiles.length == 1)
    assert(Snapshot.read(spark, pinned.inputFiles.toSeq).count() == 3)
    assert(spark.read.parquet(dir).count() == 5)
    assert(Snapshot.load(spark, root, "t", consistent = false).count() == 5)
  }

  test("DDL artifact writer (S9) writes statements separated by blank lines") {
    val path = java.nio.file.Files.createTempDirectory("graft_ddl")
      .toString + "/out/reverse_test.sql"
    Ddl.writeArtifact(path, Seq("CREATE TABLE a (x int);",
      "ALTER TABLE a ADD COLUMN y int;"))
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(text ==
      "CREATE TABLE a (x int);\n\nALTER TABLE a ADD COLUMN y int;\n")
  }
}
