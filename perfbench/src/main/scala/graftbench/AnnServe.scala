package graftbench

import graft.operators.{TextIndex, VectorIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.collection.mutable

/** `ann_serve`: one client probing a persisted vector index (over sf0.1
  * `embeddings`, 2k vectors) and a text index (over `documents`)
  * with a fixed mix of `probeRerank` (nprobe 2), `probe` (nprobe 2)
  * and `probeTerms` requests of 1–8 seeded probes each. Text answers
  * must equal a plain-Scala BM25 ranking. Vector answers are scored
  * against the exact top-5 of a plain-Scala brute force; the recall
  * reported end to end comes from a larger seeded probe set run
  * through both vector paths after the timed loop. */
final class AnnServe(val ctx: Ctx) extends Workload {
  import Gen._
  import Workload._

  private val K = 5
  private val NProbe = 2
  // sf0.1 as it is and a 16-entry PQ codebook keep two index builds
  // within one run
  private val CodebookK = 16
  private val RecallProbes = 512
  private var root: String = _
  private var buildS = Seq.empty[Double]

  private var vmeta: VectorIndex.Meta = _
  private var tmeta: TextIndex.Meta = _
  private var corpus: IndexedSeq[(Long, Array[Float])] = IndexedSeq.empty
  private var norms: Array[Double] = Array.empty
  private var known: Set[Long] = Set.empty
  private var bm25: Bm25 = _
  private var stream: Iterator[Request] = Iterator.empty

  private var overlap = 0L
  private var truthItems = 0L
  private var setRecall: Option[Double] = None
  private val scanRatio = mutable.ArrayBuffer[Double]()

  private def vdir = s"$root/vindex"
  private def tdir = s"$root/tindex"

  def setup(rep: Int): Unit = {
    if (root != null) deleteRecursively(new java.io.File(root))
    root = ctx.path(s"ann$rep")
    buildS :+= seconds {
      VectorIndex.write(spark.read.parquet(s"${ctx.dataDir}/embeddings.parquet"), "vec_id",
        "embedding", col("vec_id") % 125 === 0, vdir, codebookK = CodebookK)
      TextIndex.write(spark.read.parquet(s"${ctx.dataDir}/documents.parquet"),
        "doc_id", "text", tdir)
    }
  }

  override def prepare(): Unit = {
    vmeta = VectorIndex.readMeta(spark, vdir)
    tmeta = TextIndex.readMeta(spark, tdir)
    corpus = spark.read.parquet(s"${ctx.dataDir}/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq
    known = corpus.map(_._1).toSet
    norms = corpus.map { case (_, v) => math.sqrt(v.map(x => x.toDouble * x).sum) }.toArray
    val docs = spark.read.parquet(s"${ctx.dataDir}/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    bm25 = new Bm25(docs)
    stream = Gen.annStream(corpus.map(_._2), bm25.vocab, ctx.seed)
  }

  private val probeSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  private val termSchema = StructType(Seq(StructField("w", StringType)))

  private def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  // one of each: probeRerank, probe and probeTerms
  override def warmupOps: Int = 3
  override def tracedOps: Int = 3
  // one of each kind
  override def cycle: Int = 3

  def op(tr: Tracer): Sample = {
    val req = stream.next()
    val ran = mutable.ArrayBuffer[(DataFrame, Int)]()
    def run(d: DataFrame): Array[Row] = { val rows = d.collect(); ran += ((d, rows.length)); rows }
    val s = req match {
      case VectorReq(rerank, probes) =>
        val kind = if (rerank) "probe_rerank" else "probe"
        measure(kind, tr, probes.size) {
          val p = df(probes.map { case (id, v) => Row(id, v.toSeq) }, probeSchema)
          if (rerank) tr.span("vectorindex.probe_rerank")(run(VectorIndex.probeRerank(
            spark, vdir, p, K, nprobe = NProbe, meta = Some(vmeta))))
          else tr.span("vectorindex.probe")(run(VectorIndex.probe(
            spark, vdir, p, K, NProbe, meta = Some(vmeta))))
        }(rows => checkVectors(probes, rows))
      case TermReq(sets) =>
        measure("probe_terms", tr, sets.size) {
          sets.map(ts => tr.span("textindex.probe_terms")(run(TextIndex.probeTerms(
            spark, tdir, df(ts.map(Row(_)), termSchema), K, meta = Some(tmeta)))))
        }(answers => sets.zip(answers).flatMap { case (ts, rows) =>
          checkTerms(ts, rows) }.headOption)
    }
    if (tr.enabled) {
      scanRatio += ran.map(r => PlanStats.of(r._1).rowsScanned).sum.toDouble /
        math.max(1, ran.map(_._2).sum)
    }
    s
  }

  private def exactTop(v: Array[Float]): Seq[Long] = {
    val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
    corpus.indices.map { i =>
      val c = corpus(i)._2
      var dot = 0.0; var j = 0
      while (j < c.length) { dot += c(j).toDouble * v(j); j += 1 }
      (dot / (norms(i) * nv), corpus(i)._1)
    }.sortBy { case (cos, id) => (-cos, id) }.take(K).map(_._2)
  }

  /** neighbour ids per probe id */
  private def hits(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getAs[Long]("probe_id")).map { case (id, rs) =>
      id -> rs.map(_.getAs[Long]("neighbor_id")).toSeq }

  /** k distinct known neighbours per probe; recall against the exact
    * top-k is accumulated, not failed */
  private def checkVectors(probes: IndexedSeq[(Long, Array[Float])],
      rows: Array[Row]): Option[String] = {
    val byProbe = hits(rows)
    probes.iterator.map { case (id, v) =>
      val got = byProbe.getOrElse(id, Nil)
      val truth = exactTop(v)
      overlap += got.count(truth.contains)
      truthItems += truth.size
      if (got.size != K) Some(s"probe $id got ${got.size} neighbours, want $K")
      else if (got.distinct.size != K) Some(s"probe $id repeats a neighbour")
      else if (!got.forall(known)) Some(s"probe $id names an unknown vector")
      else None
    }.collectFirst { case Some(e) => e }
      .orElse(if (byProbe.size != probes.size) Some("answers for unknown probes") else None)
  }

  private def checkTerms(terms: Seq[String], rows: Array[Row]): Option[String] = {
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = bm25.top(terms, K)
    if (got == want) None else Some(s"terms $terms ranked $got, want $want")
  }

  /** recall@5 of both vector paths over [[RecallProbes]] seeded probes
    * each, one untimed batch per path */
  def recall(): Option[Double] = {
    if (setRecall.isEmpty) {
      val r = Gen.rng(ctx.seed, "recallSet")
      var id = 2 * Gen.ProbeIdBase
      val paths = Seq[DataFrame => DataFrame](
        p => VectorIndex.probeRerank(spark, vdir, p, K, nprobe = NProbe, meta = Some(vmeta)),
        p => VectorIndex.probe(spark, vdir, p, K, NProbe, meta = Some(vmeta)))
      val (found, total) = paths.map { path =>
        val probes = Gen.probeVectors(corpus.map(_._2), RecallProbes, r, () => { id += 1; id })
        val got = hits(path(df(probes.map { case (i, v) => Row(i, v.toSeq) },
          probeSchema)).collect())
        (probes.map { case (i, v) => got.getOrElse(i, Nil).count(exactTop(v).contains) }.sum,
          probes.size * K)
      }.unzip
      setRecall = Some(found.sum.toDouble / total.sum)
    }
    setRecall
  }

  def report(samples: Seq[Sample]): Seq[Metric] =
    Seq(Metric("recall_at_5", recall().get, "ratio"),
      Metric("recall_at_5_served", if (truthItems == 0) 0.0
        else overlap.toDouble / truthItems, "ratio")) ++
      timingMetrics("probe", "ms", samples.map(_.ms))

  def layers(tr: Tracer, sched: Map[String, Double]): Map[String, Double] = Map(
    "index.build_s" -> medianOr0(buildS),
    "index.jobs_per_probe" -> sched("sched.jobs_per_op"),
    "index.rows_scanned_per_result" -> medianOr0(scanRatio.toSeq))
}

/** Plain-Scala BM25 over whitespace tokens of lower-cased text, with
  * the text index's expression order and micro fixed-point rounding,
  * ties to the lower id. */
final class Bm25(docs: Seq[(Long, String)], k1: Double = 1.2, b: Double = 0.75) {
  private val tf: Map[Long, Map[String, Long]] = docs.map { case (id, t) =>
    id -> t.toLowerCase.split(" ", -1).groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
  }.toMap
  private val dl: Map[Long, Long] = tf.map { case (id, m) => id -> m.values.sum }
  private val n = docs.size.toLong
  private val sumdl = dl.values.sum
  private val postings: Map[String, Seq[Long]] =
    tf.toSeq.flatMap { case (id, m) => m.keys.map(_ -> id) }.groupBy(_._1)
      .map { case (w, xs) => w -> xs.map(_._2) }

  val vocab: IndexedSeq[String] = postings.keys.filter(_.nonEmpty).toIndexedSeq.sorted

  def top(terms: Seq[String], k: Int): Seq[(Long, Long)] = {
    val scores = mutable.Map[Long, Long]().withDefaultValue(0L)
    terms.distinct.foreach { w =>
      val ids = postings.getOrElse(w, Nil)
      val df = ids.size.toLong
      ids.foreach { id =>
        val t = tf(id)(w)
        val idf = StrictMath.log(1.0 + ((n - df) + 0.5) / (df + 0.5))
        val norm = t + k1 * ((1.0 - b) + b * dl(id).toDouble / (sumdl * 1.0 / n))
        scores(id) += math.floor(idf * (t * (k1 + 1.0)) / norm * 1000000.0 + 0.5).toLong
      }
    }
    scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }
}
