package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Writes the formatted physical plan of every registered query to
  * PLANS.txt — the committed audit trail for scan pushdown, join
  * strategy, and shuffle placement per operator (PlanSpec asserts the
  * load-bearing properties; this is the full human-readable record).
  *
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  *
  * Note: building a query materializes its driver-side work — the ML
  * queries pay their fit() cost and d07 its propagation loop, and their
  * recorded plans describe the final stage after that work. Run at
  * sf0.001 (default) where this costs seconds.
  *
  * A query that fails prints its FAILED line, and the run exits
  * non-zero without writing the file. local[4], so the committed record
  * does not depend on the host's core count.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.txt")
    val spark = Harness.session(4)

    val sb = new StringBuilder
    sb.append(s"# Physical plans of every registered query (sf dir: $sfDir)\n")
    sb.append("# Generated by graft.PlanDump — regenerate after plan-affecting changes.\n")
    val results = Harness.run(spark, sfDir, SparkEntry.registry) { (name, df) =>
      // Serialized-sketch literals (x18's bloom filter) render as
      // multi-KB hex blobs; truncate them so the committed record
      // stays readable and its diffs meaningful.
      val plan = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        .replaceAll("0x[0-9A-Fa-f]{120,}", "0x<binary literal truncated>")
      sb.append(s"\n${"=" * 72}\n== $name\n${"=" * 72}\n").append(plan)
    }
    spark.stop()
    if (results.forall(_.ok)) {
      Files.writeString(Paths.get(out), sb.toString)
      println(s"[plandump] wrote ${results.size} plans to $out")
    }
    sys.exit(Harness.exitStatus(results))
  }
}
