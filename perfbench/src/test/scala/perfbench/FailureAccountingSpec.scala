package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** A failing operation is counted and never makes a pass look faster. */
class FailureAccountingSpec extends AnyFunSuite {

  /** Ops that each advance a fake clock by their cost; `throws` ops fail
    * after spending it. */
  private def pass(costs: Seq[(String, Long, Boolean)]): Pass = {
    var now = 0L
    val ops = costs.map { case (name, ns, throws) =>
      Op(name, () => {
        now += ns
        if (throws) throw new IllegalStateException(s"$name broke")
      })
    }
    Passes.run(ops, new Tracer(false), () => now)
  }

  private val base = Seq(("a", 1000000000L, false), ("b", 500000000L, false))

  test("an injected throwing operation raises fail_frac and keeps pass_s") {
    val clean = Passes.summarize(Seq(pass(base)), Nil)
    assert(clean.failFrac == 0.0)
    for (cost <- Seq(0L, 200000000L)) {
      val p = pass(base :+ (("boom", cost, true)))
      val withFailure = Passes.summarize(Seq(p), Nil)
      assert(withFailure.failedOps == Seq("boom"))
      assert(withFailure.failFrac > clean.failFrac)
      assert(withFailure.passS >= clean.passS)
      assert(p.failures.head.line.contains("java.lang.IllegalStateException: boom broke"))
    }
  }

  test("a failure replacing a success still counts its time and its failure") {
    val p = pass(Seq(("a", 1000000000L, false), ("b", 500000000L, true)))
    val s = Passes.summarize(Seq(p), Nil)
    assert(s.passS == 1.5)
    assert(s.failFrac == 0.5)
    assert(s.opMedians.map(_._1) == Seq("a", "b"))
  }

  test("an operation failing in any pass or check counts once") {
    val ok = pass(base)
    val bad = pass(Seq(("a", 1000000000L, true), ("b", 500000000L, false)))
    val s = Passes.summarize(Seq(ok, bad, bad),
      Seq(Failure("b", new WrongResult("fingerprint 1, expected 2"))))
    assert(s.failedOps.toSet == Set("a", "b"))
    assert(s.attempted == 2)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 87).map(_.toDouble)
    assert(Passes.tail(xs) == ((88, 77.0)))
    assert(Passes.tail(Seq(3.0, 1.0, 2.0)) == ((100, 3.0)))
  }
}
