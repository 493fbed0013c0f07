package graftbench

import graft.operators.Migration
import graft.sources.{BlobSink, Jdbc}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

/** `migrate`: the paper's pipeline. An embedded-Derby blob table is
  * extracted over JDBC (range-partitioned), each blob written to a
  * content-addressed object with the pointer table committed in the
  * same pass, then the store is inventoried, reconciled both ways
  * against the pointers, and validated bucket by bucket against the
  * source. One op is one whole migration of the table into a fresh
  * store. */
final class Migrate(val ctx: Ctx) extends Workload {
  import Workload._

  // 80 rows: per-object costs dominate an op, so this keeps several
  // whole migrations inside one run
  private val Rows = 80
  private val Table = "orders_rdbms_blob"
  private val Buckets = 16

  private val table: IndexedSeq[Gen.BlobRow] = {
    val orders = spark.read.parquet(s"${ctx.dataDir}/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    Gen.blobTable(orders, Rows, ctx.seed)
  }
  private val byId = table.map(b => b.orderId -> b).toMap
  private val sourceBytes = table.flatMap(_.blob).map(_.length.toLong).sum
  private val lo = table.map(_.orderId).min
  private val hi = table.map(_.orderId).max + 1

  override def warmupOps: Int = 1

  private var url: String = _
  private var dbDir: String = _
  private var nOps = 0
  private var objectsWritten = Seq.empty[Double]
  private var bytesWritten = Seq.empty[Double]

  private def shutdownDb(): Unit = if (dbDir != null) {
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir;shutdown=true")
    catch { case _: java.sql.SQLException => () } // the normal shutdown signal
    deleteRecursively(new java.io.File(dbDir))
  }

  def setup(rep: Int): Unit = {
    shutdownDb()
    dbDir = ctx.path(s"derby$rep")
    url = s"jdbc:derby:$dbDir;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(s"CREATE TABLE $Table (order_id BIGINT " +
        "PRIMARY KEY, description VARCHAR(120), order_blob BLOB(2M))")
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(s"INSERT INTO $Table VALUES (?, ?, ?)")
      table.zipWithIndex.foreach { case (b, i) =>
        ps.setLong(1, b.orderId)
        ps.setString(2, b.description)
        b.blob match {
          case Some(bytes) => ps.setBytes(3, bytes)
          case None => ps.setNull(3, java.sql.Types.BLOB)
        }
        ps.addBatch()
        if (i % 200 == 199) { ps.executeBatch(); conn.commit() }
      }
      ps.executeBatch(); conn.commit()
    } finally conn.close()
  }

  private def extract(partitions: Int) =
    Jdbc.read(spark, url, Table, "order_id", lo, hi, partitions)

  private final case class Out(written: Long, pointers: DataFrame,
      inventory: DataFrame, reconciled: Array[(String, String)],
      sourceBuckets: Set[(Long, Long, Long, Long, Long)],
      pointerBuckets: Set[(Long, Long, Long, Long, Long)], store: String)

  def op(tr: Tracer): Sample = {
    nOps += 1
    val store = ctx.path(s"store$nOps")
    val ptrDir = ctx.path(s"pointers$nOps")
    val s = measure("migrate", tr, sourceBytes.toDouble) {
      val src = tr.span("jdbc.read")(extract(ctx.cores))
      val (written, pointers) = tr.span("migration.migrate") {
        Migration.migrate(src, col("order_id"), lit("orders"), col("order_blob"),
          store, ptrDir)
      }
      val inv = tr.span("blobsink.inventory") {
        BlobSink.inventory(spark, store).localCheckpoint(true)
      }
      val rec = tr.span("migration.reconcile") {
        Migration.reconcile(pointers, "s3_prefix", inv, "object_key").collect()
          .map(r => (r.getString(0), r.getString(1)))
      }
      def buckets(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val (srcB, ptrB) = tr.span("migration.validate") {
        (buckets(Migration.validate(src, "order_id", "order_blob", Buckets)
            .select("bucket", "n", "sum_bytes", "min_id", "max_id")),
          buckets(pointers.groupBy((col("record_id") % Buckets).as("bucket"))
            .agg(count(lit(1)), sum(col("nbytes")), min(col("record_id")),
              max(col("record_id")))))
      }
      Out(written, pointers, inv, rec, srcB, ptrB, store)
    }(check)
    deleteRecursively(new java.io.File(store))
    deleteRecursively(new java.io.File(ptrDir))
    s
  }

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  /** reconcile finds no orphan object and no dangling pointer; every
    * object's md5 matches its content-addressed prefix and its size
    * the pointer's nbytes; the seeded NULL blobs come back as exactly
    * that many NULL pointers; source and pointer buckets agree, and
    * both match the generator. A NULL pointer has no object by
    * design, and reconcile lists it as a `dangling_pointer` row with
    * a NULL prefix (the quarantine signal, with a13's NOT EXISTS
    * semantics): those rows must be exactly the seeded NULL blobs,
    * and any other reconcile row fails the op. */
  private def check(o: Out): Option[String] = {
    val nulls = table.count(_.blob.isEmpty)
    val pointers = o.pointers.collect()
    val inventory = o.inventory.collect()
    val ptrNull = pointers.count(_.getAs[String]("s3_prefix") == null)
    val bySize = inventory.map(r => r.getString(0) -> r.getLong(1)).toMap
    lazy val badObject = pointers.find { p =>
      val id = p.getAs[Long]("record_id")
      val prefix = p.getAs[String]("s3_prefix")
      val want = byId(id).blob
      (prefix, want) match {
        case (null, None) => false
        case (null, Some(_)) | (_, None) => true
        case (pf, Some(bytes)) =>
          val onDisk = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(o.store, pf))
          val md5 = md5Hex(onDisk)
          !pf.endsWith("/" + md5) || md5 != md5Hex(bytes) ||
            bySize.get(pf).forall(_ != p.getAs[Int]("nbytes").toLong) ||
            onDisk.length != bytes.length
      }
    }
    val expectBuckets = table.groupBy(b => Math.floorMod(b.orderId, Buckets.toLong)).map {
      case (k, bs) => (k, bs.size.toLong, bs.flatMap(_.blob).map(_.length.toLong).sum,
        bs.map(_.orderId).min, bs.map(_.orderId).max)
    }.toSet
    val (quarantined, found) = o.reconciled.partition {
      case (prefix, status) => prefix == null && status == "dangling_pointer"
    }
    if (found.nonEmpty) Some(s"reconcile found ${found.take(3).mkString(", ")}")
    else if (quarantined.length != nulls)
      Some(s"reconcile lists ${quarantined.length} NULL pointers, seeded $nulls")
    else if (o.written != table.size - nulls) Some(s"wrote ${o.written} objects")
    else if (pointers.length != table.size) Some(s"${pointers.length} pointer rows")
    else if (ptrNull != nulls) Some(s"$ptrNull NULL pointers, seeded $nulls")
    else if (inventory.length != table.size - nulls) Some(s"${inventory.length} objects")
    else if (badObject.isDefined) Some(s"object mismatch at ${badObject.get}")
    else if (o.sourceBuckets != o.pointerBuckets) Some("source and pointer buckets differ")
    else if (o.sourceBuckets != expectBuckets) Some("buckets differ from the generated table")
    else {
      o.inventory.unpersist()
      objectsWritten :+= o.written.toDouble
      bytesWritten :+= inventory.map(_.getLong(1)).sum.toDouble
      None
    }
  }

  def recall(): Option[Double] = None

  def report(samples: Seq[Sample]): Seq[Metric] = {
    val ok = samples.filter(_.ok)
    Seq(Metric("migrate_mb_per_s",
      ok.map(_.units).sum / 1e6 / (ok.map(_.ms).sum / 1e3).max(1e-9), "MB/s"),
      Metric("source_mb", sourceBytes / 1e6, "MB"),
      Metric("source_rows", table.size, "count")) ++
      timingMetrics("migrate", "ms", samples.map(_.ms))
  }

  def layers(tr: Tracer, sched: Map[String, Double]): Map[String, Double] = {
    def timedExtract(parts: Int): Double = tr.request("aux") {
      tr.span(s"jdbc.extract_${parts}p")(seconds(materialize(extract(parts))))
    }
    val fullP = medianOr0(Seq.fill(2)(timedExtract(ctx.cores)))
    val oneP = medianOr0(Seq.fill(2)(timedExtract(1)))
    Map(
      "jdbc.extract_s" -> fullP,
      "jdbc.extract_rows_per_s" -> table.size / fullP,
      "jdbc.extract_rows_per_s_1p" -> table.size / oneP,
      "migration.migrate_s" -> spanSeconds(tr, "migration.migrate"),
      "blobsink.objects_written" -> medianOr0(objectsWritten),
      "blobsink.bytes_written" -> medianOr0(bytesWritten),
      "blobsink.inventory_s" -> spanSeconds(tr, "blobsink.inventory"),
      "migration.reconcile_s" -> spanSeconds(tr, "migration.reconcile"),
      "migration.validate_s" -> spanSeconds(tr, "migration.validate"))
  }

  override def close(): Unit = shutdownDb()
}
