package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval: a call from the benchmark into a graft layer,
  * or the root `op` span of one request. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {
  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = 0L
    var open = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else curE = math.max(curE, b)
    }
    if (open) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its own
    * interval that its children cover (children clipped to the
    * parent, overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Records spans around the benchmark's calls into graft, from the
  * one client thread. While a span is open, the Spark jobs it causes
  * carry its id and its request id as local properties, so
  * [[BenchListener]] can attribute them. A disabled tracer (no
  * context) runs the body and records nothing. Spans stay in memory
  * until the run writes them out. */
final class Tracer(sc: Option[SparkContext]) {
  import BenchListener.{ReqKey, SpanKey}
  private val done = mutable.ArrayBuffer[Span]()
  private val kinds = mutable.Map[Long, String]()
  private var stack: List[Long] = Nil
  private var nextSpan = 1L
  private var nextReq = 1L
  private var req = 0L

  def enabled: Boolean = sc.isDefined

  /** Open a request: a root span named `op`. `kind` tells timed ops
    * ("op") from the extra per-layer measurements ("aux"). */
  def request[A](kind: String)(f: => A): A =
    if (!enabled) f
    else {
      require(stack.isEmpty, "requests do not nest")
      req = nextReq; nextReq += 1
      kinds(req) = kind
      try span("op")(f) finally req = 0L
    }

  def span[A](name: String)(f: => A): A = sc match {
    case None => f
    case Some(ctx) =>
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      ctx.setLocalProperty(SpanKey, id.toString)
      ctx.setLocalProperty(ReqKey, req.toString)
      val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      try f
      finally {
        done += Span(id, name, parent, req, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
        stack = stack.tail
        ctx.setLocalProperty(SpanKey,
          stack.headOption.map(_.toString).orNull)
        ctx.setLocalProperty(ReqKey,
          if (stack.isEmpty) null else req.toString)
      }
  }

  def spans: Seq[Span] = done.toSeq
  def requestKinds: Map[Long, String] = kinds.toMap
}

/** Scheduler and executor accounting per request, fed by Spark's
  * listener bus. Every buffer is guarded by ONE monitor, so events
  * from any thread see a consistent state (a job's end can never be
  * recorded against a map another thread is rebuilding). */
final class BenchListener extends SparkListener {
  import BenchListener._
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageReq = mutable.Map[Int, Long]()
  private val stages = mutable.Map[Long, Int]()
  private val exec = mutable.Map[Long, Exec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = prop(e.properties, ReqKey)
    val span = prop(e.properties, SpanKey)
    lock.synchronized {
      jobs(e.jobId) = Job(e.jobId, req, span, e.time, -1L)
      e.stageIds.foreach(s => if (!stageReq.contains(s)) stageReq(s) = req)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val r = stageReq.getOrElse(e.stageInfo.stageId, Unattributed)
      stages(r) = stages.getOrElse(r, 0) + 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val r = stageReq.getOrElse(e.stageId, Unattributed)
    exec(r) = exec.getOrElse(r, Exec()) + Exec.of(e)
  }

  def jobList: Seq[Job] = lock.synchronized(jobs.values.toSeq)
  def stagesByRequest: Map[Long, Int] = lock.synchronized(stages.toMap)
  def execByRequest: Map[Long, Exec] = lock.synchronized(exec.toMap)
}

object BenchListener {
  val SpanKey = "graftbench.span"
  val ReqKey = "graftbench.request"
  val Unattributed: Long = -1L

  final case class Job(id: Int, request: Long, span: Long, startMs: Long,
      endMs: Long)

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k)))
      .map(_.toLong).getOrElse(Unattributed)
}

/** Executor work of a set of tasks. */
final case class Exec(tasks: Long = 0, failed: Long = 0, runMs: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, deserMs: Long = 0,
    fetchWaitMs: Long = 0, shuffleWriteBytes: Long = 0,
    shuffleReadBytes: Long = 0, inputBytes: Long = 0) {
  def +(o: Exec): Exec = Exec(tasks + o.tasks, failed + o.failed,
    runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs, deserMs + o.deserMs,
    fetchWaitMs + o.fetchWaitMs, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, inputBytes + o.inputBytes)
}

object Exec {
  /** one finished task; a failed task may carry no metrics */
  def of(e: SparkListenerTaskEnd): Exec = {
    val failed = if (e.taskInfo != null && e.taskInfo.failed) 1L else 0L
    Option(e.taskMetrics).fold(Exec(tasks = 1, failed = failed)) { m =>
      Exec(1, failed, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.executorDeserializeTime, m.shuffleReadMetrics.fetchWaitTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.inputMetrics.bytesRead)
    }
  }
}
