package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** Every generator is a pure function of the seed (and of the fixed
  * rows it is given): the same seed gives byte-identical inputs,
  * another seed different ones. */
class GenSpec extends AnyFunSuite {
  private val orders = (0L until 3000L).map(k => (k * 4, s"${1 + k % 5}-PRIO"))
  private val keys = (1L to 5000L).toIndexedSeq
  private val corpus = IndexedSeq.tabulate(300)(i =>
    Array.tabulate(16)(j => math.sin(i * 31 + j).toFloat))
  private val vocab = IndexedSeq("alpha", "beta", "gamma", "delta", "eps", "zeta")
  private val docs = IndexedSeq.tabulate(400) { i =>
    val r = new scala.util.Random(i)
    Gen.Doc(i.toLong, Seq.fill(40 + r.nextInt(60))(vocab(r.nextInt(vocab.size))).mkString(" "),
      "en", s"src${i % 4}")
  }

  private def inputs(seed: Long): Seq[String] = Seq(
    Gen.blobTableDigest(Gen.blobTable(orders, 400, seed)),
    Gen.stmtDigest(Gen.lakeStream(keys, seed).take(2000).toSeq),
    Gen.requestDigest(Gen.annStream(corpus, vocab, seed).take(300).toSeq),
    Gen.plantsDigest(Gen.plants(docs, seed)))

  test("the same seed gives byte-identical inputs") {
    assert(inputs(42) == inputs(42))
  }

  test("another seed gives different inputs, for every generator") {
    inputs(42).zip(inputs(43)).foreach { case (a, b) => assert(a != b) }
  }

  test("blob table: heavy tail, seeded NULL share, stable total") {
    val t = Gen.blobTable(orders, 400, 7)
    val sizes = t.flatMap(_.blob).map(_.length)
    assert(t.size == 400 && t.count(_.blob.isEmpty) == 8)
    assert(sizes.count(_ >= 100000) == 3 && sizes.max <= 1000000)
    assert(Stats.median(sizes.map(_.toDouble)) < 8000)
    val totals = (1 to 5).map(s => Gen.blobTable(orders, 400, s).flatMap(_.blob).map(_.length).sum)
    assert(totals.max.toDouble / totals.min < 1.6)
  }

  test("statement stream: writes name live keys, inserts new ones") {
    val live = scala.collection.mutable.Set(keys: _*)
    Gen.lakeStream(keys, 3).take(3000).foreach {
      case Gen.Insert(r) => assert(!live(r.key)); live += r.key
      case Gen.Update(k, _, _) => assert(live(k))
      case Gen.Delete(k) => assert(live(k)); live -= k
      case _ =>
    }
  }

  test("plants: copies take fresh ids, near copies differ by one token") {
    val p = Gen.plants(docs, 5)
    val byId = p.docs.map(d => d.id -> d.text).toMap
    assert(p.docs.map(_.id).distinct.size == p.docs.size)
    p.exactPairs.foreach { case (a, b) => assert(b > a && byId(a) == byId(b)) }
    p.nearPairs.foreach { case (a, b) =>
      val (x, y) = (byId(a).split(" "), byId(b).split(" "))
      assert(b > a && x.length == y.length && x.zip(y).count { case (u, v) => u != v } == 1)
    }
    p.piiIds.foreach(id => assert(byId(id).contains("@example.com")))
  }
}
