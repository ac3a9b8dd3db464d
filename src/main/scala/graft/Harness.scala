package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QueryDef

/** The one session factory and registry runner behind every main
  * (Bench, Verify, PlanDump, ProbeData, FlightApp, the stream audits)
  * and the test session, so they all run the same configuration.
  */
object Harness {

  /** One query's outcome: `seconds` is the wall time of build + action,
    * up to the throw when the query failed. */
  final case class Result(name: String, seconds: Double,
      failure: Option[Failure]) {
    def ok: Boolean = failure.isEmpty
  }

  /** A failed query as (name, error class, first line of the message);
    * `toString` is the `FAILED` line the mains print on stderr. */
  final case class Failure(name: String, errorClass: String, message: String) {
    override def toString: String = s"FAILED $name: $errorClass: $message"
  }

  /** SPARK_GRAFT_CPUS, else the host's core count. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with shuffle partitions = cores, UTC, UI off, log
    * level ERROR. A `spark.master` that is already set (spark-submit
    * `--master`) is left alone. ERROR, not WARN: Bench's sweep logs a
    * harmless WARN per unpersisted checkpoint frame, hundreds per suite,
    * which would bury the one JSON line callers tail Bench for. */
  def session(cores: Int = defaultCores): SparkSession = {
    val builder = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (!new SparkConf().contains("spark.master"))
      builder.master(s"local[$cores]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Registry queries whose name starts with one of the comma-separated
    * `prefixes`, in registry order; the whole registry when empty. No
    * name is a prefix of another (HarnessSpec), so a full name selects
    * exactly its query. */
  def select(prefixes: String): Seq[QueryDef] = {
    val ps = prefixes.split(",").map(_.trim).filter(_.nonEmpty)
    SparkEntry.registry.filter(q => ps.isEmpty || ps.exists(q.name.startsWith))
  }

  /** Builds each query at `sfDir`, applies `action` to it and times
    * both. A throw (any Throwable: a deep plan's StackOverflowError is
    * one query's failure, not the run's) is recorded on the query's
    * Result and printed as its `FAILED` line; the run goes on. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[QueryDef])(
      action: (String, DataFrame) => Unit): Seq[Result] =
    queries.map { q =>
      val t0 = System.nanoTime()
      val failure =
        try { action(q.name, q.build(spark, sfDir)); None }
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
          Some(Failure(q.name, e.getClass.getName, msg.getOrElse("")))
        }
      failure.foreach(System.err.println)
      Result(q.name, (System.nanoTime() - t0) / 1e9, failure)
    }

  /** Process exit status of a run: non-zero when any query failed. */
  def exitStatus(results: Seq[Result]): Int =
    if (results.forall(_.ok)) 0 else 1

  /** Main body of the stream audits: runs `audit` over `sfDir`, writes
    * its JSON to `out` and prints it. local[8] because the committed
    * audit JSON records state-store bytes, which scale with the number
    * of shuffle partitions. */
  def auditMain(sfDir: String, out: String)(
      audit: (SparkSession, String) => String): Unit = {
    val spark = session(8)
    try {
      val json = audit(spark, sfDir)
      Files.writeString(Paths.get(out), json)
      println(json)
    } finally spark.stop()
  }
}
