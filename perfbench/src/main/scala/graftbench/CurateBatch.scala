package graftbench

import graft.GraftSession
import graft.operators.{Curation, Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** `curate_batch`: one `Curation.curate` call over the sf0.1
  * `documents` corpus (5k docs) with seeded planted exact and near
  * duplicates and PII, materialized in full. The plants are the ground truth:
  * an exact copy must never survive beside its original, the share
  * of near copies removed beside a surviving original is the recall,
  * and no planted email or phone number may survive the scrub. */
final class CurateBatch(val ctx: Ctx) extends Workload {
  import Workload._

  private val Jaccard = 0.8
  private var root: String = _
  private var docsIn = 0L
  private var caught = 0L
  private var eligible = 0L
  private var stageRows = Map.empty[String, Double]

  private def corpusDir = s"$root/corpus"
  private def docs: DataFrame = spark.read.parquet(corpusDir)
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType)))
  private def frame(ds: Seq[Gen.Doc]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(ds.map(d => Row(d.id, d.text, d.lang, d.source)): _*),
    docSchema)

  // input generation, once: sf0.1 `documents` with the seeded plants
  private val plants: Gen.Plants =
    Gen.plants(spark.read.parquet(s"${ctx.dataDir}/documents.parquet")
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => Gen.Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toIndexedSeq, ctx.seed)

  def setup(rep: Int): Unit = {
    if (root != null) deleteRecursively(new java.io.File(root))
    root = ctx.path(s"curate$rep")
    frame(plants.docs).repartition(ctx.cores).write.parquet(corpusDir)
    GraftSession.tuneShufflePartitions(spark, corpusDir)
  }

  override def prepare(): Unit = docsIn = plants.docs.size.toLong

  private val Email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[a-z]{2,}""".r
  private val Phone = """\b555-\d{3}-\d{4}\b""".r

  def op(tr: Tracer): Sample =
    measure("curate", tr, docsIn.toDouble) {
      tr.span("curation.curate") {
        val (out, report) = Curation.curate(docs, "doc_id", "text", col("source"),
          frame(plants.evalDocs).select("doc_id", "text"), jaccard = Jaccard)
        (out.select("doc_id", "text").collect(), report.collect())
      }
    } { case (out, report) =>
      stageRows = report.map(r => r.getString(0) -> r.getLong(2).toDouble).toMap
      val ids = out.map(_.getLong(0))
      val kept = ids.toSet
      val inIds = plants.docs.iterator.map(_.id).toSet
      val texts = out.map(_.getString(1))
      val exactLeft = plants.exactPairs.filter { case (a, b) => kept(a) && kept(b) }
      val nearBase = plants.nearPairs.filter { case (a, _) => kept(a) }
      eligible += nearBase.size
      caught += nearBase.count { case (_, b) => !kept(b) }
      if (kept.size != ids.length) Some("a document survives twice")
      else if (!kept.subsetOf(inIds)) Some("unknown ids in the curated corpus")
      else if (texts.distinct.length != texts.length) Some("identical texts survive")
      else if (exactLeft.nonEmpty) Some(s"exact copies survive: ${exactLeft.take(3)}")
      else if (texts.exists(t => Email.findFirstIn(t).isDefined || Phone.findFirstIn(t).isDefined))
        Some("unscrubbed PII survives")
      else None
    }

  def recall(): Option[Double] =
    Some(if (eligible == 0) 0.0 else caught.toDouble / eligible)

  def report(samples: Seq[Sample]): Seq[Metric] =
    Seq(Metric("curate_docs_per_s",
      samples.map(_.units).sum / (samples.map(_.ms).sum / 1e3).max(1e-9), "docs/s"),
      Metric("neardup_recall", recall().get, "ratio"),
      Metric("docs_in", docsIn.toDouble, "count")) ++
      timingMetrics("curate", "ms", samples.map(_.ms))

  def layers(tr: Tracer, sched: Map[String, Double]): Map[String, Double] = {
    def alone[A](name: String)(f: => A): (A, Double) = tr.request("aux") {
      tr.span(name) { var a: Option[A] = None; val s = seconds { a = Some(f) }; (a.get, s) }
    }
    val d = docs
    val (_, minhashS) = alone("dedup.minhash")(
      materialize(Dedup.minhashSignatures(d, "doc_id", "text")))
    val (cands, _) = alone("dedup.candidates")(
      Dedup.minhashCandidates(d, "doc_id", "text").count())
    val (verified, _) = alone("dedup.verified_pairs")(
      Dedup.verifiedPairs(d, "doc_id", "text", Jaccard).count())
    Dedup.releasePersisted(spark)
    val (_, qualityS) = alone("textanalysis.quality")(
      materialize(TextAnalysis.quality(d, "doc_id", "text")))
    val (_, piiS) = alone("textanalysis.pii")(
      materialize(TextAnalysis.scrubPii(d, "doc_id", "text")))
    stageRows.map { case (k, v) => s"curation.stage_rows_out.$k" -> v } ++ Map(
      "dedup.candidates" -> cands.toDouble,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.verify_yield" -> (if (cands == 0) 0.0 else verified.toDouble / cands),
      "dedup.minhash_s" -> minhashS,
      "textanalysis.quality_s" -> qualityS,
      "textanalysis.pii_s" -> piiS)
  }
}
