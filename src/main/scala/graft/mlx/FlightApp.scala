package graft.mlx

/** Runnable replacement for the reference's driver program
  * (`spark-submit ... Main <dataset.csv>...`): same CLI shape — one or
  * more flight CSVs plus a plane-data CSV — same outputs (per-model
  * RMSE/R² per selector), rendered deterministically.
  *
  * Usage: runMain graft.mlx.FlightApp <planes.csv> <flights.csv> [more...]
  * (under spark-submit, its `--master` picks where it runs).
  *
  * Differences from the reference, by design (SURVEY §4.2):
  * multiple datasets UNION (the reference's loop kept only the last);
  * profiling/correlation run as single passes; day-part bucketing is a
  * codegen'd expression; `verbose` show()s are off unless -v.
  */
object FlightApp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: FlightApp <planes.csv> <flights.csv> [flights2.csv ...]")
    val verbose = args.contains("-v")
    val paths = args.filterNot(_ == "-v")
    val spark = graft.Harness.session()

    val planes = FlightPipeline.readStringly(spark, paths.head)
    val flights = FlightPipeline.loadMany(spark, paths.tail.toSeq)
    if (verbose) { flights.printSchema(); flights.show(10, truncate = false) }

    val results = FlightPipeline.run(flights, planes)
    println(render(results.collect().map(r => (
      r.getAs[String]("model"), r.getAs[String]("selector"),
      r.getAs[Double]("rmse"), r.getAs[Double]("r2")))))
    spark.stop()
  }

  /** Deterministic text report (SURVEY S7): fixed ordering, fixed widths,
    * 4-dp metrics — diffable as a golden file. */
  def render(rows: Seq[(String, String, Double, Double)]): String = {
    val sorted = rows.sortBy(r => (r._1, r._2))
    val header = f"${"model"}%-24s ${"selector"}%-8s ${"rmse"}%10s ${"r2"}%10s"
    val lines = sorted.map { case (m, sel, rmse, r2) =>
      f"$m%-24s $sel%-8s $rmse%10.4f $r2%10.4f"
    }
    (header +: lines).mkString("\n")
  }
}
