package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.{Failure, Success, Try}

/** What every workload sees: the session, its inputs and a private
  * work directory inside the checkout. */
final case class Ctx(spark: SparkSession, cores: Int, dataDir: String,
    workDir: String, seed: Long) {
  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")
  def path(name: String): String = s"$workDir/$name"
}

/** One timed op: its kind, wall time (the check excluded), verdict and
  * the work it did in the workload's own unit. */
final case class Sample(kind: String, ms: Double, ok: Boolean, units: Double = 0)

/** A metric as the benchmark prints it. */
final case class Metric(name: String, value: Double, unit: String)

/** A workload generates its inputs from the seed when constructed
  * (untimed); [[setup]] then builds graft's state over them. */
trait Workload {
  def ctx: Ctx

  /** graft's set-up over the generated inputs, from scratch; timed,
    * and run several times so set-up time is reported as a median */
  def setup(rep: Int): Unit

  /** benchmark-side ground truth for the last set-up; untimed */
  def prepare(): Unit = ()

  /** one op of the closed loop */
  def op(tr: Tracer): Sample

  /** untimed ops before the timed loop, one of each kind, so ops are
    * timed warm; 0 times the first op cold, for a batch job whose
    * single op outlasts the run and which pays its first run every
    * time */
  def warmupOps: Int = 0

  /** the fewest ops the traced phase runs, so every layer the
    * workload calls shows in it */
  def tracedOps: Int = 1

  /** the timed loop stops only after a whole number of these ops, so
    * every run times the same mix of kinds; `cycle_p50_ms` is the
    * median wall time of one such cycle */
  def cycle: Int = 1

  /** share of the exact answers' items that approximate answers
    * returned, after the timed loop (it may run untimed queries of its
    * own); None when every answer must be exact, and the share of ops
    * that passed their check stands in */
  def recall(): Option[Double]

  /** the workload's own end-to-end figures over the given samples */
  def report(samples: Seq[Sample]): Seq[Metric]

  /** per-layer figures after the traced phase, given the scheduler
    * figures; may run extra traced `aux` requests that call one layer
    * alone */
  def layers(tr: Tracer, sched: Map[String, Double]): Map[String, Double]

  def close(): Unit = ()

  /** Run `body` as one traced request and time it, then check its
    * answer. An exception or a failed check fails the op; the sample
    * is kept either way. */
  protected def measure[A](kind: String, tr: Tracer, units: Double = 0)(
      body: => A)(check: A => Option[String]): Sample = {
    val t0 = System.nanoTime()
    val res = Try(tr.request("op")(body))
    val ms = (System.nanoTime() - t0) / 1e6
    val err = res match {
      case Success(a) => Try(check(a)) match {
        case Success(e) => e
        case Failure(e) => Some(s"check threw $e")
      }
      case Failure(e) => Some(s"op threw $e")
    }
    err.foreach(e => ctx.log(s"FAILED $kind: $e"))
    Sample(kind, ms, err.isEmpty, units)
  }

  protected def spark: SparkSession = ctx.spark
}

object Workload {
  /** wall seconds of a body */
  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def timingMetrics(prefix: String, unit: String, xs: Seq[Double]): Seq[Metric] =
    Stats.timing(xs).toSeq.flatMap { t =>
      Seq(Metric(s"${prefix}_p50_ms", t.p50, unit), Metric(s"${prefix}_n", t.n, "count")) ++
        t.p90.map(Metric(s"${prefix}_p90_ms", _, unit)) ++
        t.p99.map(Metric(s"${prefix}_p99_ms", _, unit))
    }

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** median duration (s) of the spans of one name inside timed ops */
  def spanSeconds(tr: Tracer, name: String): Double = {
    val ops = tr.requestKinds.collect { case (r, "op") => r }.toSet
    medianOr0(tr.spans.filter(s => s.name == name && ops(s.request))
      .map(_.durNs / 1e9))
  }

  /** run a DataFrame's whole physical plan, every output column
    * computed, without collecting it */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** recursive size and file count of a local directory (hidden
    * checksum and staging files skipped) */
  def dirStats(dir: String): (Long, Int) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val fs = walk(new java.io.File(dir)).filterNot(_.getName.startsWith("."))
    (fs.map(_.length).sum, fs.size)
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
