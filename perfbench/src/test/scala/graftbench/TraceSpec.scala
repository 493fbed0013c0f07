package graftbench

import org.apache.spark.BenchEvents
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, s: Long, e: Long) =
    Span(id, s"s$id", parent, 1L, s, e, s, e)

  test("union length merges overlaps and ignores empty intervals") {
    assert(Spans.unionLength(Nil) == 0)
    assert(Spans.unionLength(Seq((10L, 30L), (20L, 50L), (60L, 70L))) == 50)
    assert(Spans.unionLength(Seq((5L, 5L), (9L, 3L))) == 0)
    assert(Spans.unionLength(Seq((0L, 100L), (10L, 20L))) == 100)
  }

  test("self time is the duration minus what the children cover") {
    val spans = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 30), span(3, 1, 20, 50), // overlapping children
      span(4, 1, 90, 120), // runs past its parent: clipped at 100
      span(5, 2, 12, 28)) // a grandchild counts against its own parent only
    val self = Spans.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20 - 16)
    assert(self(3) == 30 && self(4) == 30 && self(5) == 16)
  }

  test("a disabled tracer runs the body and records nothing") {
    val tr = new Tracer(None)
    assert(tr.request("op")(tr.span("x")(41) + 1) == 42)
    assert(tr.spans.isEmpty && tr.requestKinds.isEmpty)
  }

  test("listener events fired from two threads are all counted") {
    val l = new BenchListener
    val perThread = 500
    def fire(req: Long, base: Int): Runnable = () =>
      (0 until perThread).foreach { i =>
        val job = base + i
        l.onJobStart(BenchEvents.jobStart(job, 1000L + i, Seq(job),
          Map(BenchListener.ReqKey -> req.toString, BenchListener.SpanKey -> "7")))
        l.onTaskEnd(BenchEvents.taskEnd(job, job.toLong, runMs = 3, cpuNs = 2000000))
        l.onTaskEnd(BenchEvents.taskEnd(job, job + 100000L, runMs = 1, cpuNs = 0,
          failed = i % 100 == 0))
        l.onStageCompleted(BenchEvents.stageDone(job, 2))
        l.onJobEnd(BenchEvents.jobEnd(job, 1005L + i))
      }
    val ts = Seq(new Thread(fire(1, 0)), new Thread(fire(2, 10000)))
    ts.foreach(_.start()); ts.foreach(_.join())
    val jobs = l.jobList
    assert(jobs.size == 2 * perThread)
    assert(jobs.forall(_.endMs > 0), "every job end recorded against its start")
    assert(jobs.groupBy(_.request).map { case (r, js) => r -> js.size } ==
      Map(1L -> perThread, 2L -> perThread))
    assert(l.stagesByRequest == Map(1L -> perThread, 2L -> perThread))
    val ex = l.execByRequest
    Seq(1L, 2L).foreach { r =>
      assert(ex(r).tasks == 2 * perThread)
      assert(ex(r).runMs == 4L * perThread)
      assert(ex(r).cpuNs == 2000000L * perThread)
      assert(ex(r).failed == perThread / 100)
    }
  }

  test("jobs without the benchmark's properties stay unattributed") {
    val l = new BenchListener
    l.onJobStart(BenchEvents.jobStart(1, 10L, Seq(3), Map.empty))
    l.onTaskEnd(BenchEvents.taskEnd(3, 1L, runMs = 5, cpuNs = 0))
    assert(l.jobList.map(_.request) == Seq(BenchListener.Unattributed))
    assert(l.execByRequest.keySet == Set(BenchListener.Unattributed))
  }
}
