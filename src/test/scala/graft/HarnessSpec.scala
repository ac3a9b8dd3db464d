package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryDef

/** The shared harness: failures are recorded, counted into the total and
  * fail the run; the registry filter selects by name; and every main
  * gets its session from the one factory. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a throwing query is one recorded failure, adds to the total and fails the run") {
    val working = QueryDef("working", (s, _) => s.range(1000).toDF("id"), None)
    // throws inside the job, after planning and launch have taken time
    val throwing = QueryDef("throwing",
      (s, _) => s.range(10).toDF("id").where("assert_true(id < 0) IS NULL"), None)
    val results = Harness.run(spark, TestSpark.sf0001, Seq(working, throwing))(
      (_, df) => df.count())
    val failed = results.filterNot(_.ok)
    assert(failed.map(_.name) == Seq("throwing"))
    assert(failed.head.failure.get.toString.startsWith("FAILED throwing: "))
    assert(Bench.timing(failed.head) == ("throwing" -> -1.0))
    val ok = results.find(_.ok).get
    assert(Bench.total(results) >= ok.seconds + failed.head.seconds)
    assert(failed.head.seconds > 0)
    assert(Harness.exitStatus(results) != 0)
    assert(Harness.exitStatus(Seq(ok)) == 0)
  }

  test("no registry name is a prefix of another") {
    // in sorted order a prefix sorts directly before a name extending it
    val clashes = SparkEntry.registry.map(_.name).sorted.sliding(2)
      .collect { case Seq(a, b) if b.startsWith(a) => s"$a < $b" }.toSeq
    assert(clashes.isEmpty)
  }

  test("select with a full name returns exactly that query") {
    val names = SparkEntry.registry.map(_.name)
    names.foreach(n => assert(Harness.select(n).map(_.name) == Seq(n)))
    assert(Harness.select("").map(_.name) == names)
    assert(Harness.select("q0").nonEmpty &&
      Harness.select("q0").forall(_.name.startsWith("q0")))
  }

  test("SparkSession.builder appears in src/main/scala only in Harness.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val hits = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toSeq
    assert(hits == Seq("graft/Harness.scala"))
  }
}
