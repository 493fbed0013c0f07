package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("a percentile is reported only with at least 10 samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.reportable(hundred, 90).contains(90.0))
    assert(Stats.beyond(99, 90) == 9)
    assert(Stats.reportable(hundred.take(99), 90).isEmpty)
    assert(Stats.reportable(hundred, 99).isEmpty, "p99 needs 1000 samples")
    assert(Stats.reportable((1 to 1000).map(_.toDouble), 99).contains(990.0))
    assert(Stats.reportable(Nil, 50).isEmpty)
  }

  test("a timing carries its count and only the reportable tail") {
    val t = Stats.timing((1 to 150).map(_.toDouble)).get
    assert(t.n == 150 && t.p50 == 75.5 && t.p90.contains(135.0) && t.p99.isEmpty)
    assert(Stats.timing(Nil).isEmpty)
  }
}

class OverheadSpec extends AnyFunSuite {
  test("tracing overhead compares each traced op with untraced ops of its kind") {
    val untraced = Seq(Sample("read", 100, ok = true), Sample("read", 120, ok = true),
      Sample("write", 1000, ok = true))
    val traced = Seq(Sample("read", 121, ok = true), Sample("write", 1100, ok = true),
      Sample("optimize", 5000, ok = true)) // no untraced optimize: left out
    assert(math.abs(Main.overhead(untraced, traced) - 0.1) < 1e-9)
    assert(Main.overhead(untraced, Nil) == 0.0)
  }
}
