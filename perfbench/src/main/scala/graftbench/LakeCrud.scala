package graftbench

import graft.sources.LakeSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, concat, lit, md5, substring}
import scala.collection.mutable

/** `lake_crud`: one client sending the reference's statement mix as
  * plain SQL against a keyed lake table built from sf0.1 `orders` (its
  * first 40k keys, in 8 key-ranged files). A cycle is four rounds of
  * one read and one write: point lookup and UPDATE, blob-pointer
  * projection and INSERT, keyset page and DELETE, COUNT and OPTIMIZE
  * (see [[Gen.LakeRounds]] for the sources and assumptions of the
  * mix). Every answer is checked against an in-memory model of the
  * rows each key should hold. */
final class LakeCrud(val ctx: Ctx) extends Workload {
  import Gen._
  import Workload._

  private val Key = "o_orderkey"
  // the first 40k orders: big enough that a lookup reading the whole
  // table costs visibly more than a pruned one, small enough that the
  // set-up (write, bloom and stats manifests) repeats within a run
  private val BaseKeys = 40000L
  private val BaseFiles = 8

  private val base: DataFrame = spark.read.parquet(s"${ctx.dataDir}/orders.parquet")
    .filter(col(Key) < BaseKeys)
    .select(col(Key), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderpriority"),
      concat(lit("blobs/orders/"), col(Key).cast("string"), lit("/"),
        substring(md5(col(Key).cast("string").cast("binary")), 1, 16)).as("s3_prefix"))

  private var dir: String = _
  private def target = s"parquet.`$dir`"

  /** key -> the row the table must serve for it */
  private val model = new java.util.TreeMap[java.lang.Long, LakeRow]()
  private var stream: Iterator[Stmt] = Iterator.empty

  // mismatch diagnoses, by kind; "resurrected" = a deleted key came back
  val mismatches: mutable.Map[String, Int] = mutable.Map().withDefaultValue(0)

  // traced-phase layer samples
  private val planning = mutable.ArrayBuffer[Double]()
  private val filesRead = mutable.ArrayBuffer[Double]()
  private val pruneRatio = mutable.ArrayBuffer[Double]()
  private val scanRatio = mutable.ArrayBuffer[Double]()
  private var bytesWritten = 0L
  private var userRows = 0L
  private var rewritten = Seq.empty[Double]
  private var logBatchesMax = 0
  private var freshBytesPerRow = 0.0

  def setup(rep: Int): Unit = {
    if (dir != null) deleteRecursively(new java.io.File(dir))
    dir = ctx.path(s"lake$rep")
    base.repartitionByRange(BaseFiles, col(Key)).sortWithinPartitions(Key)
      .write.parquet(dir)
    LakeSink.attachBlooms(spark, dir, Key)
    LakeSink.attachStats(spark, dir, Seq(Key))
    LakeSink.registerKeyDir(spark, dir, Key)
  }

  override def prepare(): Unit = {
    model.clear()
    base.collect().foreach(r => model.put(r.getLong(0), rowOf(r)))
    stream = Gen.lakeStream(model.keySet.toArray.map(_.asInstanceOf[java.lang.Long].longValue)
      .toIndexedSeq, ctx.seed)
    freshBytesPerRow = dirStats(dir)._1.toDouble / model.size
  }

  private def rowOf(r: Row) = LakeRow(r.getLong(0), r.getLong(1), r.getString(2),
    r.getDouble(3), r.getString(4), r.getString(5))

  private def kindOf(s: Stmt): String = s match {
    case _: Lookup | _: PointerRead | _: Page | CountAll => "read"
    case Optimize => "optimize"
    case _ => "write"
  }

  private def spanOf(s: Stmt): String = s match {
    case Optimize => "lake.optimize"
    case w if isWrite(w) => "lake.dml"
    case _ => "plans.select"
  }

  /** live data files: the base and the log batches a full read scans */
  private def liveFiles(): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val root = new java.io.File(dir)
    Option(root.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory && (f.getName == "_updates" || f.getName == "_deletes")) walk(f)
      else if (f.isFile) Seq(f) else Nil
    }.filter(_.getName.endsWith(".parquet"))
  }

  private def logBatches(): Int = Seq("_updates", "_deletes").map { d =>
    Option(new java.io.File(dir, d).listFiles()).toSeq.flatten
      .count(f => f.isDirectory && !f.getName.startsWith("."))
  }.sum

  // no warm-up: the set-ups already ran parquet scans and writes, and a
  // warm cycle would not fit the run budget. Reads, writes and
  // OPTIMIZE all count towards a cycle's wall time.
  override def cycle: Int = Gen.LakeCycle.size
  override def tracedOps: Int = Gen.LakeCycle.size

  def op(tr: Tracer): Sample = execute(stream.next(), tr)

  /** run one statement, check it against the model, apply it */
  def execute(stmt: Stmt, tr: Tracer): Sample = {
    val before = if (tr.enabled && !isRead(stmt)) dirStats(dir)._1 else 0L
    val batches = if (tr.enabled && stmt == Optimize) logBatches() else 0
    var plan: Option[DataFrame] = None
    var returned = 0
    val s = measure(kindOf(stmt), tr) {
      tr.span(spanOf(stmt)) {
        val df = spark.sql(stmt.sql(target))
        plan = Some(df)
        df.collect()
      }
    } { rows => returned = rows.length; check(stmt, rows) }
    if (tr.enabled) {
      if (isRead(stmt)) plan.foreach { df =>
        val ps = PlanStats.of(df)
        planning += ps.planningMs
        stmt match {
          case _: Lookup | _: PointerRead =>
            filesRead += ps.filesRead
            pruneRatio += ps.filesRead.toDouble / liveFiles().size.max(1)
            scanRatio += ps.rowsScanned.toDouble / math.max(1, returned)
          case _ =>
        }
      } else {
        val after = dirStats(dir)._1
        if (stmt == Optimize) {
          val base = liveFiles().map(_.length).sum
          logBatchesMax = math.max(logBatchesMax, batches)
          rewritten :+= base.toDouble
          bytesWritten += base
        } else {
          bytesWritten += math.max(0L, after - before)
          userRows += 1
        }
      }
    }
    s
  }

  private def live(k: Long): Option[LakeRow] = Option(model.get(k))

  /** compare with the model, then apply a write to it */
  private def check(stmt: Stmt, rows: Array[Row]): Option[String] = {
    def miss(kind: String, msg: String): Option[String] = {
      mismatches(kind) += 1; Some(s"$kind: $msg")
    }
    def effect(i: Int, want: Long) =
      if (rows.length != 1 || rows(0).getLong(i) != want)
        Some(s"effect row ${rows.mkString(",")} for ${stmt.sql("t")}")
      else None
    stmt match {
      case Lookup(k) =>
        val got = rows.map(rowOf).toSeq
        (live(k), got) match {
          case (None, Seq()) => None
          case (None, _) => miss("resurrected", s"deleted or absent key $k served $got")
          case (Some(w), Seq(g)) if w == g => None
          case (Some(w), Seq()) => miss("missing", s"key $k absent, want $w")
          case (Some(w), _) => miss("stale", s"key $k served $got, want $w")
        }
      case PointerRead(k) =>
        val got = rows.map(_.getString(0)).toSeq
        (live(k), got) match {
          case (None, Seq()) => None
          case (None, _) => miss("resurrected", s"deleted or absent key $k served $got")
          case (Some(w), Seq(g)) if w.pointer == g => None
          case (Some(w), _) => miss("stale", s"key $k pointer $got, want ${w.pointer}")
        }
      case Page(after, limit) =>
        val want = new mutable.ArrayBuffer[(Long, Double)]()
        val it = model.tailMap(after, false).values().iterator()
        while (it.hasNext && want.size < limit) { val r = it.next(); want += ((r.key, r.price)) }
        val got = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
        if (got == want.toSeq) None
        else if (got.exists { case (k, _) => !model.containsKey(k) })
          miss("resurrected", s"page after $after served a deleted key")
        else miss("page", s"page after $after: $got, want $want")
      case CountAll =>
        val n = rows.head.getLong(0)
        if (n == model.size) None
        else miss(if (n > model.size) "resurrected" else "count", s"COUNT $n, want ${model.size}")
      case Insert(row) =>
        model.put(row.key, row); effect(2, 1L)
      case Update(k, status, price) =>
        model.put(k, model.get(k).copy(status = status, price = price)); effect(1, 1L)
      case Delete(k) =>
        model.remove(k); effect(3, 1L)
      case Optimize =>
        effect(1, model.size.toLong)
    }
  }

  def recall(): Option[Double] = None

  def report(samples: Seq[Sample]): Seq[Metric] = {
    val reads = samples.filter(_.kind == "read").map(_.ms)
    val writes = samples.filter(_.kind == "write").map(_.ms)
    Seq(Metric("lake_ops_per_s", samples.size / (samples.map(_.ms).sum / 1e3).max(1e-9), "ops/s"),
      Metric("space_amp", spaceAmp(), "ratio")) ++
      timingMetrics("read", "ms", reads) ++ timingMetrics("write", "ms", writes) ++
      timingMetrics("optimize", "ms", samples.filter(_.kind == "optimize").map(_.ms))
  }

  /** table-dir bytes ÷ bytes of the same live rows written fresh */
  private def spaceAmp(): Double = {
    val fresh = ctx.path("fresh")
    deleteRecursively(new java.io.File(fresh))
    spark.read.parquet(dir).repartitionByRange(BaseFiles, col(Key))
      .sortWithinPartitions(Key).write.parquet(fresh)
    val amp = dirStats(dir)._1.toDouble / dirStats(fresh)._1
    deleteRecursively(new java.io.File(fresh))
    amp
  }

  def layers(tr: Tracer, sched: Map[String, Double]): Map[String, Double] = {
    val (bytesOnDisk, _) = dirStats(dir)
    val userBytes = userRows * freshBytesPerRow
    Map(
      "lake.dml_land_ms" -> spanSeconds(tr, "lake.dml") * 1e3,
      "lake.compact_s" -> spanSeconds(tr, "lake.optimize"),
      "lake.compact_bytes_rewritten" -> medianOr0(rewritten),
      "lake.write_amp" -> (if (userBytes > 0) bytesWritten / userBytes else 0.0),
      "lake.log_batches_max" -> math.max(logBatchesMax, logBatches()).toDouble,
      "lake.files_live" -> liveFiles().size.toDouble,
      "lake.bytes_on_disk" -> bytesOnDisk.toDouble,
      "plans.planning_ms" -> medianOr0(planning.toSeq),
      "plans.files_read_per_lookup" -> medianOr0(filesRead.toSeq),
      "plans.file_prune_ratio" -> medianOr0(pruneRatio.toSeq),
      "plans.rows_scanned_per_row_returned" -> medianOr0(scanRatio.toSeq))
  }
}
