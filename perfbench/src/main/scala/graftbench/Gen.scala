package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** The workloads' input generators. Each is a pure function of the
  * seed and of rows read from the fixed sf0.1 tables: the same seed
  * gives byte-identical inputs, and the program under test only ever
  * receives what these functions return. [[digest]] renders an
  * input for the determinism check. */
object Gen {

  /** independent, reproducible stream per (seed, purpose) */
  def rng(seed: Long, salt: String): scala.util.Random =
    new scala.util.Random(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  def digest(parts: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(BigInt(p.length).toByteArray); md.update(p)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def str(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** seeded sample of `n` distinct elements, in a seeded order */
  def sample[A](xs: IndexedSeq[A], n: Int, r: scala.util.Random): IndexedSeq[A] = {
    val idx = Array.range(0, xs.size)
    val m = math.min(n, xs.size)
    for (i <- 0 until m) {
      val j = i + r.nextInt(idx.length - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    idx.take(m).toIndexedSeq.map(xs)
  }

  // ---- migrate: the RDBMS blob table --------------------------------

  final case class BlobRow(orderId: Long, description: String,
      blob: Option[Array[Byte]])

  /** `rows` orders of `orders` (key, priority), each with a seeded
    * blob. Sizes are heavy-tailed: most a few KB (log-normal around
    * 3 KB), `rows / 200` (at least 3) large ones spread log-uniformly
    * over 100 KB..1 MB (one per stratum, jittered within its middle,
    * so the total varies little between seeds), and `rows / 50` (at
    * least 3) NULL blobs. */
  def blobTable(orders: IndexedSeq[(Long, String)], rows: Int,
      seed: Long): IndexedSeq[BlobRow] = {
    val r = rng(seed, "blobTable")
    val chosen = sample(orders, rows, r).sortBy(_._1)
    val n = chosen.size
    val nLarge = math.max(3, n / 200)
    val nNull = math.max(3, n / 50)
    val special = sample(0 until n, nLarge + nNull, r)
    val large = special.take(nLarge).zipWithIndex.map { case (pos, i) =>
      pos -> (100000 * math.pow(10, (i + 0.3 + 0.4 * r.nextDouble()) / nLarge)).toInt
    }.toMap
    val nulls = special.drop(nLarge).toSet
    chosen.zipWithIndex.map { case ((key, prio), pos) =>
      val size = large.getOrElse(pos,
        math.min(32768, math.max(256,
          math.exp(math.log(3000) + 0.6 * r.nextGaussian()).toInt)))
      val blob =
        if (nulls(pos)) None
        else {
          val b = new Array[Byte](size)
          new scala.util.Random(seed ^ (key * 0x2545F4914F6CDD1DL)).nextBytes(b)
          Some(b)
        }
      BlobRow(key, s"order $key $prio", blob)
    }
  }

  def blobTableDigest(t: Seq[BlobRow]): String =
    digest(t.iterator.flatMap(b => Iterator(str(s"${b.orderId}|${b.description}"),
      b.blob.getOrElse(Array[Byte](-1)))))

  // ---- lake_crud: the statement stream ------------------------------

  final case class LakeRow(key: Long, custkey: Long, status: String,
      price: Double, priority: String, pointer: String)

  sealed trait Stmt { def sql(target: String): String }
  final case class Lookup(key: Long) extends Stmt {
    def sql(t: String) = s"SELECT * FROM $t WHERE o_orderkey = $key"
  }
  final case class PointerRead(key: Long) extends Stmt {
    def sql(t: String) = s"SELECT s3_prefix FROM $t WHERE o_orderkey = $key"
  }
  final case class Page(after: Long, limit: Int) extends Stmt {
    def sql(t: String) = s"SELECT o_orderkey, o_totalprice FROM $t " +
      s"WHERE o_orderkey > $after ORDER BY o_orderkey LIMIT $limit"
  }
  case object CountAll extends Stmt {
    def sql(t: String) = s"SELECT COUNT(*) FROM $t"
  }
  final case class Insert(row: LakeRow) extends Stmt {
    def sql(t: String) = s"INSERT INTO $t VALUES (${row.key}, ${row.custkey}, " +
      s"'${row.status}', ${money(row.price)}, '${row.priority}', '${row.pointer}')"
  }
  final case class Update(key: Long, status: String, price: Double) extends Stmt {
    def sql(t: String) = s"UPDATE $t SET o_orderstatus = '$status', " +
      s"o_totalprice = ${money(price)} WHERE o_orderkey = $key"
  }
  final case class Delete(key: Long) extends Stmt {
    def sql(t: String) = s"DELETE FROM $t WHERE o_orderkey = $key"
  }
  case object Optimize extends Stmt {
    def sql(t: String) = s"OPTIMIZE $t"
  }

  def isWrite(s: Stmt): Boolean = s match {
    case _: Insert | _: Update | _: Delete => true
    case _ => false
  }
  def isRead(s: Stmt): Boolean = !isWrite(s) && s != Optimize

  private def money(p: Double): String = f"$p%.2f"

  /** The statement mix. Sourced from YCSB (Cooper et al.,
    * "Benchmarking Cloud Serving Systems with YCSB", SoCC 2010): each
    * round is one read and then one write, workload A's 50/50
    * read/update split, and keys follow YCSB's Zipfian request
    * distribution with its default constant 0.99. Not sourced, and
    * unverified assumptions: which read and which write each round
    * sends (the rounds below: point lookup + UPDATE, blob-pointer
    * projection + INSERT, keyset page of 10 + DELETE, COUNT + OPTIMIZE,
    * so OPTIMIZE follows every 3 writes and takes the fourth write
    * slot) and the 25% of reads sent to one of the last 16 written keys
    * (in the spirit of workload D's "latest" distribution). The cycle
    * is fixed, so every run sends the same kinds in the same order;
    * only keys and values vary with the seed. */
  val LakeRounds: IndexedSeq[(Char, Char)] =
    IndexedSeq('L' -> 'U', 'P' -> 'I', 'G' -> 'D', 'C' -> 'O')
  /** one cycle of statement kinds: every round's read and write */
  val LakeCycle: IndexedSeq[Char] = LakeRounds.flatMap { case (r, w) => Seq(r, w) }
  private val RecentShare = 0.25 // of reads, to one of the last 16 written keys
  private val ZipfS = 0.99

  private val Statuses = IndexedSeq("O", "F", "P")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  /** An endless statement stream over a table holding `baseKeys`,
    * kinds from [[LakeCycle]] (L lookup, P blob-pointer read, G keyset
    * page, C COUNT, I/U/D writes, O OPTIMIZE). Keys are Zipf-skewed
    * over a seeded ranking of the keys; a share of reads goes to
    * recently written keys (deleted ones included, whose reads must
    * come back empty).
    * The generator tracks which keys are live so UPDATE/DELETE always
    * name a live key and INSERT a new one; it never looks at the
    * program. */
  def lakeStream(baseKeys: IndexedSeq[Long], seed: Long): Iterator[Stmt] =
      new Iterator[Stmt] {
    private val r = rng(seed, "lakeStream")
    private val ranked = sample(baseKeys, baseKeys.size, r)
    private val cdf = {
      val w = Array.tabulate(ranked.size)(i => 1.0 / math.pow(i + 1, ZipfS))
      var acc = 0.0
      w.map { x => acc += x; acc }.map(_ / acc)
    }
    private val deleted = mutable.Set[Long]()
    private val inserted = mutable.ArrayBuffer[Long]()
    private val recent = mutable.Queue[Long]()
    private var nextKey = baseKeys.max + 1
    private var slot = 0

    def hasNext = true

    private def zipfKey(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      ranked(math.min(if (i >= 0) i else -i - 1, ranked.size - 1))
    }
    private def liveKey(): Long = {
      var k = zipfKey(); var tries = 0
      while (deleted(k) && tries < 32) { k = zipfKey(); tries += 1 }
      if (!deleted(k)) k
      else inserted.find(!deleted(_)).getOrElse(ranked.find(!deleted(_)).get)
    }
    private def readKey(): Long =
      if (recent.nonEmpty && r.nextDouble() < RecentShare)
        recent(r.nextInt(recent.size))
      else zipfKey()
    private def wrote(k: Long): Unit = {
      recent.enqueue(k)
      if (recent.size > 16) recent.dequeue()
    }
    private def price(): Double = (100000 + r.nextInt(40000000)) / 100.0

    def next(): Stmt = {
      val kind = LakeCycle(slot % LakeCycle.size)
      slot += 1
      kind match {
        case 'O' => Optimize
        case 'L' => Lookup(readKey())
        case 'P' => PointerRead(readKey())
        case 'G' => Page(readKey(), 10)
        case 'C' => CountAll
        case 'I' =>
          val k = nextKey; nextKey += 1 + r.nextInt(3)
          inserted += k; wrote(k)
          Insert(LakeRow(k, 1 + r.nextInt(15000), Statuses(r.nextInt(3)), price(),
            Priorities(r.nextInt(5)), f"blobs/orders/$k/${r.nextLong()}%016x"))
        case 'U' =>
          val k = liveKey(); wrote(k)
          Update(k, Statuses(r.nextInt(3)), price())
        case 'D' =>
          val k = liveKey(); deleted += k; wrote(k)
          Delete(k)
      }
    }
  }

  def stmtDigest(ss: Seq[Stmt]): String =
    digest(ss.iterator.map(s => str(s.sql("t"))))

  // ---- ann_serve: the request stream --------------------------------

  sealed trait Request
  final case class VectorReq(rerank: Boolean, probes: IndexedSeq[(Long, Array[Float])])
      extends Request
  final case class TermReq(termSets: IndexedSeq[IndexedSeq[String]]) extends Request

  val ProbeIdBase = 1000000000L

  /** The request mix: probeRerank, probe, probeTerms in turn, with
    * 1..8 probes per request from a fixed cycle of sizes, so every
    * run sends the same shapes in the same order and only the probes
    * vary with the seed. A probe vector is a seeded corpus vector
    * moved by seeded Gaussian noise; a term set is 2..4 words of the
    * corpus vocabulary. */
  val AnnSizes: IndexedSeq[Int] = IndexedSeq(3, 6, 1, 8, 4, 2, 7, 5)

  def annStream(corpus: IndexedSeq[Array[Float]], vocab: IndexedSeq[String],
      seed: Long): Iterator[Request] = new Iterator[Request] {
    private val r = rng(seed, "annStream")
    private var nextProbe = ProbeIdBase
    private var i = 0
    def hasNext = true
    def next(): Request = {
      val n = AnnSizes(i % AnnSizes.size)
      val kind = i % 3
      i += 1
      if (kind < 2) VectorReq(kind == 0, probeVectors(corpus, n, r, () => {
        nextProbe += 1; nextProbe }))
      else TermReq(IndexedSeq.fill(n)(
        IndexedSeq.fill(2 + r.nextInt(3))(vocab(r.nextInt(vocab.size))).distinct))
    }
  }

  /** `n` seeded probes: corpus vectors moved by Gaussian noise */
  def probeVectors(corpus: IndexedSeq[Array[Float]], n: Int, r: scala.util.Random,
      id: () => Long): IndexedSeq[(Long, Array[Float])] = IndexedSeq.fill(n) {
    val base = corpus(r.nextInt(corpus.size))
    (id(), base.map(x => (x + 0.02 * r.nextGaussian()).toFloat))
  }

  def requestDigest(rs: Seq[Request]): String = digest(rs.iterator.flatMap {
    case VectorReq(rr, ps) => Iterator(str(s"v$rr")) ++ ps.iterator.map { case (id, v) =>
      str(s"$id:" + v.map(java.lang.Float.floatToIntBits).mkString(",")) }
    case TermReq(ts) => ts.iterator.map(t => str("t" + t.mkString(" ")))
  })

  // ---- curate_batch: planted duplicates and PII ---------------------

  final case class Doc(id: Long, text: String, lang: String, source: String)

  final case class Plants(docs: IndexedSeq[Doc], exactPairs: IndexedSeq[(Long, Long)],
      nearPairs: IndexedSeq[(Long, Long)], piiIds: IndexedSeq[Long],
      evalDocs: IndexedSeq[Doc])

  /** Plants into `corpus`: 40 verbatim copies and 120 near copies
    * (one token replaced in a doc of 60+ tokens, so the shingle
    * Jaccard stays near 0.9) under fresh ids above every corpus id,
    * PII (an email address and a phone number) appended to 40 docs,
    * and 8 held-out eval docs copied from the corpus for
    * decontamination. Pairs are (original, copy). */
  def plants(corpus: IndexedSeq[Doc], seed: Long): Plants = {
    val (nExact, nNear, nPii, nEval) = (40, 120, 40, 8)
    val r = rng(seed, "plants")
    val long = corpus.filter(_.text.split(" ").length >= 60)
    val picks = sample(long, nExact + nNear + nPii, r)
    var next = corpus.map(_.id).max + 1
    def fresh(): Long = { val i = next; next += 1; i }
    val vocab = corpus.take(200).flatMap(_.text.split(" ")).distinct.sorted
    val exact = picks.take(nExact).map(d => d -> d.copy(id = fresh()))
    val near = picks.slice(nExact, nExact + nNear).map { d =>
      val toks = d.text.split(" ")
      val at = toks.length / 2 + r.nextInt(toks.length / 4)
      val alt = vocab.filterNot(_ == toks(at))
      toks(at) = alt(r.nextInt(alt.size))
      d -> d.copy(id = fresh(), text = toks.mkString(" "))
    }
    val piiSet = picks.drop(nExact + nNear).map(_.id).toSet
    val withPii = corpus.map { d =>
      if (!piiSet(d.id)) d
      else d.copy(text = d.text +
        s" contact user${d.id}@example.com or 555-${100 + r.nextInt(900)}-${1000 + r.nextInt(9000)}")
    }
    val evalDocs = sample(corpus, nEval, r).map(d => d.copy(id = fresh()))
    Plants(withPii ++ exact.map(_._2) ++ near.map(_._2),
      exact.map { case (a, b) => (a.id, b.id) },
      near.map { case (a, b) => (a.id, b.id) },
      picks.drop(nExact + nNear).map(_.id), evalDocs)
  }

  def plantsDigest(p: Plants): String = digest(
    (p.docs ++ p.evalDocs).iterator.map(d => str(s"${d.id}|${d.text}|${d.lang}|${d.source}")) ++
      Iterator(str(p.exactPairs.mkString(",") + p.nearPairs.mkString(",") +
        p.piiIds.mkString(","))))
}
