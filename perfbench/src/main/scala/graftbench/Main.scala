package graftbench

import graft.GraftSession
import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark run: one workload, one seed, one process.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <sf0.1 dir> --work <dir> --out <result.json>
  *   --spec <BENCHMARK.json> [--t0-ms <launch epoch ms>]
  *
  * Set-up runs twice and its median (their mean) counts; after the
  * workload's warm-up ops the closed loop runs for `--seconds`. With
  * `--trace 1` an untraced and then a traced phase of the workload's
  * `tracedOps` follow; the per-layer figures come from the traced one,
  * the tracing overhead from the two. The metrics reported, with
  * their units, are the ones `--spec` declares. The
  * result (every metric, the environment stamp, span self times) is
  * written as JSON to `--out`; spans go beside it. */
object Main {

  /** graft confs every run sets: the correctness and pruning rules
    * are off by default, and the benchmark measures them on */
  val GraftConfs: Seq[(String, String)] = Seq(
    "spark.graft.morApply.enabled" -> "true",
    "spark.graft.bloomPrune.enabled" -> "true",
    "spark.graft.statsPrune.enabled" -> "true",
    "spark.graft.optimize.targetRecordsPerFile" -> "5000")

  val Workloads: Map[String, Ctx => Workload] = Map(
    "migrate" -> (new Migrate(_)),
    "lake_crud" -> (new LakeCrud(_)),
    "ann_serve" -> (new AnnServe(_)),
    "curate_batch" -> (new CurateBatch(_)))

  /** the metrics BENCHMARK.json declares, by section (`end_to_end`,
    * `per_layer`): name and unit, in its order */
  def declared(path: String): Map[String, Seq[(String, String)]] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    Seq("end_to_end", "per_layer").map { sec =>
      sec -> root.get(sec).elements().asScala.map(m =>
        m.get("name").asText -> m.get("unit").asText).toSeq
    }.toMap
  }

  // set-ups per run: the first pays the JVM's warm-up, the second not;
  // a third would not fit the run budget beside the timed cycles
  val SetupReps = 2

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String, spec: String, t0Ms: Long)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"), need("spec"),
      m.get("t0-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime))
    require(Workloads.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    o
  }

  def session(cores: Int, work: String): SparkSession = {
    val b = GraftConfs.foldLeft(GraftSession.builder(cores).master(s"local[$cores]")) {
      case (b, (k, v)) => b.config(k, v)
    }
    val s = b.config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.attach(s)
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** run ops until `seconds` have passed, at least `minOps` ran and
    * the count is a whole number of the workload's cycles */
  def loop(wl: Workload, tr: Tracer, seconds: Double, minOps: Int = 1): Seq[Sample] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = scala.collection.mutable.ArrayBuffer[Sample]()
    while (out.size < minOps || System.nanoTime() < end || out.size % wl.cycle != 0)
      out += wl.op(tr)
    out.toSeq
  }

  /** traced ÷ untraced wall of the same kind of op, median, minus 1 */
  def overhead(untraced: Seq[Sample], traced: Seq[Sample]): Double = {
    val base = untraced.groupBy(_.kind).map { case (k, xs) => k -> Stats.median(xs.map(_.ms)) }
    val ratios = traced.filter(s => base.contains(s.kind)).map(s => s.ms / base(s.kind))
    if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    new java.io.File(o.work).mkdirs()
    System.setProperty("derby.stream.error.file", s"${o.work}/derby.log")
    val spark = session(cores, o.work)
    try {
      val sessionS = (System.currentTimeMillis() - o.t0Ms) / 1e3
      val ctx = Ctx(spark, cores, o.data, o.work, o.seed)
      var wl: Workload = null
      val inputsS = Workload.seconds { wl = Workloads(o.workload)(ctx) }
      ctx.log(f"session in $sessionS%.2f s, inputs in $inputsS%.2f s")
      try run(o, ctx, wl, sessionS) finally wl.close()
    } finally spark.stop()
  }

  private def run(o: Opts, ctx: Ctx, wl: Workload, sessionS: Double): Unit = {
    val spark = ctx.spark
    val spec = declared(o.spec)
    val setupRuns = (1 to SetupReps).map(i => Workload.seconds(wl.setup(i)))
    ctx.log(f"set-ups: ${setupRuns.map(x => f"$x%.2f").mkString(", ")} s")
    val setupS = sessionS + Stats.median(setupRuns)
    ctx.log(f"prepared in ${Workload.seconds(wl.prepare())}%.2f s")
    val off = new Tracer(None)
    val warm = Seq.fill(wl.warmupOps)(wl.op(off))
    val timed = loop(wl, off, o.seconds)

    val listener = new BenchListener
    val tr = new Tracer(Some(spark.sparkContext))
    // the overhead baseline: as many untraced ops, just as warm
    val baseline = if (!o.trace) Nil else loop(wl, off, 0, wl.tracedOps)
    val traced = if (!o.trace) Nil else {
      spark.sparkContext.addSparkListener(listener)
      loop(wl, tr, 0, wl.tracedOps)
    }
    ctx.log(s"warm-up ${warm.size} ops, timed ${timed.size}, traced ${traced.size}")
    val all = warm ++ timed ++ baseline ++ traced
    val okShare = all.count(_.ok).toDouble / all.size
    val recall = wl.recall().getOrElse(okShare)
    val layers =
      if (!o.trace) Nil
      else {
        val sched = schedulerMetrics(tr, listener, spark)
        val own = wl.layers(tr, sched)
        BenchBridge.drainListeners(spark.sparkContext)
        val spans = spec("per_layer").map(_._1).filter(_.startsWith("self_ms."))
        val got = sched ++ own ++ selfTimes(tr, spans.map(_.stripPrefix("self_ms."))) +
          ("trace.overhead_frac" -> overhead(baseline, traced))
        val unknown = got.keySet -- spec("per_layer").map(_._1)
        require(unknown.isEmpty, s"layer metrics --spec does not declare: $unknown")
        // a layer the workload does not call reports 0
        spec("per_layer").map { case (n, u) => Metric(n, got.getOrElse(n, 0.0), u) }
      }
    val cycles = timed.grouped(wl.cycle).map(_.map(_.ms).sum).toSeq
    val e2eGot = Map("setup_s" -> setupS, "cycle_p50_ms" -> Stats.median(cycles),
      "recall" -> recall, "peak_rss_mb" -> peakRssMb())
    val e2e = spec("end_to_end").map { case (n, u) =>
      Metric(n, e2eGot.getOrElse(n, sys.error(s"no end-to-end metric $n")), u)
    }
    val failed = all.count(!_.ok)
    val report = wl.report(timed) ++ Seq(
      Metric("failed_frac", failed.toDouble / all.size, "ratio"),
      Metric("setup_session_s", sessionS, "s"),
      Metric("setup_data_s", Stats.median(setupRuns), "s"),
      Metric("setup_data_runs", setupRuns.size, "count"),
      Metric("op_n", timed.size, "count"),
      Metric("cycle_n", cycles.size, "count"),
      Metric("ops_per_s", timed.size / (timed.map(_.ms).sum / 1e3), "1/s"))
    writeResult(o, all, e2e, layers, report, tr, listener)
  }

  /** scheduler and executor work per timed traced op, from the
    * listener's per-request accounting */
  private def schedulerMetrics(tr: Tracer, l: BenchListener,
      spark: SparkSession): Map[String, Double] = {
    BenchBridge.drainListeners(spark.sparkContext)
    val ops = tr.requestKinds.collect { case (r, "op") => r }.toSet
    val n = ops.size.max(1).toDouble
    val jobs = l.jobList.filter(j => ops(j.request))
    val stages = l.stagesByRequest.filter(x => ops(x._1)).values.sum
    val ex = l.execByRequest.filter(x => ops(x._1)).values.foldLeft(Exec())(_ + _)
    val gaps = tr.spans.filter(s => s.name == "op" && ops(s.request)).map { s =>
      val busy = Spans.unionLength(jobs.filter(_.request == s.request).map(j =>
        (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
      (s.durNs / 1e6) - busy
    }
    Map(
      "sched.jobs_per_op" -> jobs.size / n,
      "sched.stages_per_op" -> stages / n,
      "sched.tasks_per_op" -> ex.tasks / n,
      "sched.driver_gap_ms" -> (if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size),
      "exec.task_run_s" -> ex.runMs / 1e3 / n,
      "exec.task_cpu_s" -> ex.cpuNs / 1e9 / n,
      "exec.gc_s" -> ex.gcMs / 1e3 / n,
      "exec.deser_s" -> ex.deserMs / 1e3 / n,
      "exec.fetch_wait_s" -> ex.fetchWaitMs / 1e3 / n,
      "exec.shuffle_write_mb" -> ex.shuffleWriteBytes / 1e6 / n,
      "exec.shuffle_read_mb" -> ex.shuffleReadBytes / 1e6 / n,
      "exec.input_mb" -> ex.inputBytes / 1e6 / n,
      "exec.tasks_failed" -> ex.failed / n)
  }

  /** mean self time (ms) per timed op of each of the named spans */
  private def selfTimes(tr: Tracer, names: Seq[String]): Map[String, Double] = {
    val ops = tr.requestKinds.collect { case (r, "op") => r }.toSet
    val spans = tr.spans.filter(s => ops(s.request))
    val self = Spans.selfTimes(spans)
    val n = ops.size.max(1).toDouble
    names.map { name =>
      s"self_ms.$name" -> spans.filter(_.name == name).map(s => self(s.id)).sum / 1e6 / n
    }.toMap
  }

  private def writeResult(o: Opts, samples: Seq[Sample],
      e2e: Seq[Metric], layers: Seq[Metric], report: Seq[Metric], tr: Tracer,
      listener: BenchListener): Unit = {
    def metrics(ms: Seq[Metric]) =
      ms.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap
    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> (if (o.trace) 1 else 0),
      "correct" -> samples.forall(_.ok), "attempted" -> samples.size,
      "failed" -> samples.count(!_.ok),
      "samples" -> samples.map(s => Map("kind" -> s.kind, "ms" -> s.ms, "ok" -> s.ok)),
      "end_to_end" -> metrics(e2e), "per_layer" -> metrics(layers),
      "report" -> metrics(report), "stamp" -> stamp(o))
    write(o.out, Json(result))
    // each span with the Spark jobs it caused
    val jobs = listener.jobList.groupBy(_.span)
    if (o.trace) write(o.out.stripSuffix(".json") + ".spans.json", Json(tr.spans.map(s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ns" -> s.durNs,
        "jobs" -> jobs.getOrElse(s.id, Nil).map(_.id)))))
  }

  private def stamp(o: Opts): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "java" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "graft_confs" -> GraftConfs.toMap,
    "seed" -> o.seed,
    "loadavg_1m_jvm_end" -> java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage)

  private def write(path: String, s: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
