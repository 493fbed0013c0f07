package graftbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The lake_crud model check has teeth: with the merge-on-read rule
  * off (graft's default), a plain read serves a deleted row again,
  * and the check reports it as resurrected. With the rule on, as the
  * benchmark runs it, the same statements pass. */
class ModelCheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = java.nio.file.Files.createTempDirectory("graftbench").toFile
  private lazy val spark: SparkSession = {
    val s = Main.GraftConfs.foldLeft(GraftSession.builder(2).master("local[2]")) {
      case (b, (k, v)) => b.config(k, v)
    }.config("spark.sql.warehouse.dir", s"$tmp/warehouse").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.attach(s)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Workload.deleteRecursively(tmp)
  }

  /** a tiny lake_crud over 200 synthetic orders */
  private def lake(name: String): LakeCrud = {
    val data = s"$tmp/$name-data"
    val s = spark
    import s.implicits._
    (0L until 200L).map(k => (k * 4, k % 50, "O", 100.0 + k, "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .write.parquet(s"$data/orders.parquet")
    val wl = new LakeCrud(Ctx(spark, 2, data, s"$tmp/$name-work", 1L))
    wl.setup(1)
    wl.prepare()
    wl
  }

  private val off = new Tracer(None)

  test("morApply off: the check reports the deleted row as resurrected") {
    val wl = lake("off")
    spark.conf.set("spark.graft.morApply.enabled", "false")
    try {
      assert(wl.execute(Gen.Delete(40L), off).ok)
      assert(!wl.execute(Gen.Lookup(40L), off).ok)
      assert(!wl.execute(Gen.CountAll, off).ok)
      assert(!wl.execute(Gen.Page(36L, 3), off).ok)
      assert(wl.mismatches("resurrected") == 3)
    } finally spark.conf.set("spark.graft.morApply.enabled", "true")
  }

  test("morApply on: the same statements pass") {
    val wl = lake("on")
    Seq(Gen.Delete(40L), Gen.Lookup(40L), Gen.CountAll, Gen.Page(36L, 3),
        Gen.Update(44L, "F", 12.5), Gen.Lookup(44L), Gen.PointerRead(44L))
      .foreach(s => assert(wl.execute(s, off).ok, s))
    assert(wl.mismatches.isEmpty)
  }
}
