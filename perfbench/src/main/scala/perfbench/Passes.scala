package perfbench

/** One unit of work the benchmark times. `latency` marks the operations
  * whose latencies make up op_p50_s and op_tail_s. */
final case class Op(name: String, body: () => Unit, latency: Boolean = true)

final case class Failure(op: String, error: Throwable) {
  def line: String =
    s"$op: ${error.getClass.getName}: ${String.valueOf(error.getMessage).linesIterator.take(3).mkString(" | ")}"
}

/** Wall time of one pass over its operations, each operation's latency,
  * and the operations that threw. A failed operation's time stays in the
  * pass: a failure can never make the pass look faster than the work it
  * did. */
final case class Pass(seconds: Double, ops: Vector[String],
    latencies: Vector[(String, Double)], failures: Vector[Failure])

/** What a run's passes add up to. An operation counts as failed once if
  * it threw or returned a wrong result in any pass; the time it ran stays
  * in its pass. */
final case class Summary(passS: Double, opMedians: Seq[(String, Double)],
    attempted: Int, failedOps: Seq[String]) {
  def failFrac: Double = failedOps.size.toDouble / attempted
}

/** Thrown by an operation whose output does not match its recorded value. */
final class WrongResult(msg: String) extends Exception(msg)

object Passes {
  def run(ops: Seq[Op], tracer: Tracer,
      clock: () => Long = () => System.nanoTime()): Pass = {
    val lat = Vector.newBuilder[(String, Double)]
    val failed = Vector.newBuilder[Failure]
    val t0 = clock()
    ops.foreach { op =>
      tracer.newOp()
      val s = clock()
      try tracer("op")(op.body())
      catch {
        case e: InterruptedException => throw e
        case e: Throwable => failed += Failure(op.name, e)
      }
      if (op.latency) lat += op.name -> (clock() - s) / 1e9
    }
    Pass((clock() - t0) / 1e9, ops.map(_.name).toVector, lat.result(), failed.result())
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it, and
    * its value; with ten samples or fewer, the maximum (percentile 100). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (100, s.last)
    else {
      val p = (100L * (n - 10) / n).toInt
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (p, s(rank - 1))
    }
  }

  def summarize(passes: Seq[Pass], otherFailures: Seq[Failure]): Summary =
    Summary(median(passes.map(_.seconds)), perOpMedians(passes),
      passes.head.ops.size,
      (otherFailures ++ passes.flatMap(_.failures)).map(_.op).distinct)

  /** Each operation's median latency over the passes. */
  def perOpMedians(passes: Seq[Pass]): Seq[(String, Double)] = {
    val all = passes.flatMap(_.latencies)
    all.map(_._1).distinct.map(n => n -> median(all.filter(_._1 == n).map(_._2)))
  }
}
