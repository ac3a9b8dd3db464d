package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.WindowExpression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The plan each suite operation times keeps every Sort, window expression
  * and aggregate function of the plan Verify writes for the same query
  * (`df.coalesce(1)` to parquet). A count() in the timed path would fail
  * this: Catalyst prunes sorts, windows and aggregates a count does not
  * need. */
class PlanParitySpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private val base = Paths.get("data/base").toAbsolutePath.toString
  private lazy val expected = Expected.load(Paths.get("data/expected.tsv"))

  /** Sort orders, window expressions and aggregate functions of a plan,
    * with expression ids stripped so two plans of one query compare. */
  private def kept(plan: LogicalPlan): Map[String, Int] = {
    val out = mutable.ArrayBuffer.empty[String]
    plan.foreach {
      case s: Sort => out += "sort:" + s.order.map(_.sql).mkString(",")
      case _ =>
    }
    plan.foreach(_.expressions.foreach(_.foreach {
      case w: WindowExpression => out += "window:" + w.windowFunction.prettyName
      case a: AggregateExpression => out += "agg:" + a.aggregateFunction.prettyName
      case _ =>
    }))
    out.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  private def timedPlan(name: String, df: DataFrame): LogicalPlan = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.synchronized(seen += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val (checked, verify) = expected.observed(name, df)
      Workloads.materialize(checked)
      verify()
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.last.optimizedPlan)
  }

  for ((suite, queries) <- Seq("relational_suite" -> Workloads.relational,
      "corpus_suite" -> Workloads.corpus)) {
    test(s"$suite: timed plans keep every sort, window and aggregate of Verify's plan") {
      val lost = queries.flatMap { case (_, q) =>
        val df = q.build(spark, base)
        val verified = kept(df.coalesce(1).queryExecution.optimizedPlan)
        val timed = kept(timedPlan(q.name, df))
        verified.collect { case (k, n) if timed.getOrElse(k, 0) < n =>
          s"${q.name}: $k x$n in Verify's plan, x${timed.getOrElse(k, 0)} timed" }
      }
      assert(lost.isEmpty, lost.mkString("\n"))
    }
  }

  test("a count() plan fails the parity check") {
    val q = graft.queries.Relational.all.find(_.name == "q02_agg").get
    val df = q.build(spark, base)
    val counted = df.groupBy().count().queryExecution.optimizedPlan
    assert(kept(df.coalesce(1).queryExecution.optimizedPlan).exists { case (k, _) =>
      !kept(counted).contains(k) })
  }
}
