package lakebench

import java.io.{BufferedWriter, File, FileWriter}

import scala.collection.mutable
import scala.util.Random

/** Seeded lineitem/orders generator for `lake_commit_mv`, with an
  * in-memory model of both tables that every change batch updates, so
  * the final table state can be checked against it.
  *
  * Input properties it varies: table size (`factRows` lines over
  * `factRows / 4` orders), skewed return flags and quantities, and the
  * recent-key bias of each change batch: upsert and delete keys are drawn
  * from the newest end of the key range with an exponential tail (mean 5 %
  * of the range), so those changes cluster in the newest files. */
final class LakeGen(seed: Long, dir: String) {
  import LakeGen._

  private val r = new Random(seed)
  val facts = mutable.LongMap.empty[Fact]
  val orders = mutable.LongMap.empty[Order]
  private var nextLine = 1L
  private var nextOrder = 1L
  var changeBytes = 0L

  private def order(key: Long): Order = Order(key, 1 + r.nextInt(5000),
    Seq("O", "F", "P")(r.nextInt(3)), Priorities(r.nextInt(5)),
    day(r.nextInt(365)))

  private def fact(id: Long, orderKey: Long): Fact = {
    val qty = 1 + (math.abs(r.nextGaussian()) * 15).toLong % 50
    Fact(id, orderKey, 1 + r.nextInt(20000), qty,
      qty * (90000 + r.nextInt(10000)) / 100,
      if (r.nextDouble() < 0.75) "N" else if (r.nextBoolean()) "A" else "R",
      if (r.nextDouble() < 0.5) "O" else "F",
      f"${day(r.nextInt(365))} ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:" +
        f"${r.nextInt(60)}%02d")
  }

  private def day(d: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString

  private def write(path: String, header: String, rows: Iterable[String])
      : String = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f), 1 << 16)
    try {
      w.write(header + "\n")
      rows.foreach(l => w.write(l + "\n"))
    } finally w.close()
    changeBytes += f.length()
    path
  }

  /** The initial tables as CSV files: (facts, orders). */
  def initial(factRows: Int): (String, String) = {
    (1 to factRows / 4).foreach { _ =>
      orders(nextOrder) = order(nextOrder); nextOrder += 1
    }
    (1 to factRows).foreach { _ =>
      facts(nextLine) = fact(nextLine, 1 + (nextLine - 1) / 4)
      nextLine += 1
    }
    val out = (write(s"$dir/facts.csv", FactHeader, facts.values.toSeq
      .sortBy(_.id).map(_.csv)),
      write(s"$dir/orders.csv", OrderHeader, orders.values.toSeq
        .sortBy(_.key).map(_.csv)))
    changeBytes = 0L
    out
  }

  /** A key of `m` drawn from the newest end of its range. */
  private def recent[T](m: mutable.LongMap[T], top: Long): Long = {
    var k = 0L
    while (!m.contains(k))
      k = top - 1 - (-math.log(1 - r.nextDouble()) * 0.05 * top).toLong
    k
  }

  /** Generate batch `i`, apply it to the model and write its files. */
  def batch(i: Int, appends: Int, upserts: Int, deletes: Int): Batch = {
    val bdir = s"$dir/batch-$i"
    val newOrders = (1 to appends / 4).map { _ =>
      val o = order(nextOrder); nextOrder += 1; o
    }
    val appended = (1 to appends).map { j =>
      val ok = if (j % 2 == 0) newOrders(j % newOrders.size).key
        else recent(orders, nextOrder)
      val f = fact(nextLine, ok); nextLine += 1; f
    }
    appended.foreach(f => facts(f.id) = f)
    val upserted = Seq.fill(upserts)(recent(facts, nextLine)).distinct
      .map { id =>
        val old = facts(id)
        val q = 1 + r.nextInt(50)
        old.copy(quantity = q, priceCents = q * (90000 + r.nextInt(10000))
          / 100, returnFlag = Seq("A", "N", "R")(r.nextInt(3)))
      }
    upserted.foreach(f => facts(f.id) = f)
    val deleted = Seq.fill(deletes)(recent(facts, nextLine)).distinct
    deleted.foreach(facts.remove)
    // deleteWhere: every line of a few recent orders
    val goneOrders = Seq.fill(3)(recent(orders, nextOrder)).distinct
    val whereIds = facts.values.filter(f => goneOrders.contains(f.orderKey))
      .map(_.id).toSeq
    whereIds.foreach(facts.remove)
    // updateWhere: a band of 100 line ids in the older half gets one more
    // unit (a late correction). Kept away from the recent keys, so the
    // rewrite never absorbs the batch's delete tombstones: every batch
    // leaves the same kind of table state behind.
    val bandLo = 1L + r.nextInt((nextLine / 2).toInt)
    val bandHi = bandLo + 99
    val bandIds = facts.keys.filter(k => k >= bandLo && k <= bandHi).toSeq
    bandIds.foreach { k =>
      val f = facts(k); facts(k) = f.copy(quantity = f.quantity + 1)
    }
    // dimension: the new orders plus re-prioritized recent ones
    val reprio = Seq.fill(appends / 10)(recent(orders, nextOrder))
      .distinct.filterNot(k => newOrders.exists(_.key == k))
      .map(k => orders(k).copy(priority = Priorities(r.nextInt(5))))
    val dimRows = newOrders ++ reprio
    dimRows.foreach(o => orders(o.key) = o)
    Batch(
      appendCsv = write(s"$bdir/append.csv", FactHeader,
        appended.map(_.csv)),
      upsertCsv = write(s"$bdir/upsert.csv", FactHeader,
        upserted.map(_.csv)),
      deleteCsv = write(s"$bdir/delete.csv", "l_id",
        deleted.map(_.toString)),
      whereOrders = goneOrders,
      band = (bandLo, bandHi),
      dimCsv = write(s"$bdir/orders.csv", OrderHeader, dimRows.map(_.csv)))
  }

  /** Row count and column sums of the modelled fact table. */
  def factSums: (Long, Long, Long, Long) = (facts.size.toLong,
    facts.keys.sum, facts.values.map(_.quantity).sum,
    facts.values.map(_.priceCents).sum)

  def orderSums: (Long, Long) = (orders.size.toLong,
    orders.values.map(o => o.custKey.toLong * o.priority.head.asDigit).sum)

  def newestLine: Long = nextLine - 1

  // expected answers of the read mix over the modelled state

  def countQty3: Long = facts.values.count(_.quantity == 3).toLong

  def avgPriceSmallN: Double = {
    val m = facts.values.filter(f => f.quantity < 25 && f.returnFlag == "N")
    m.map(_.priceCents).sum.toDouble / m.size
  }

  /** (flag, lines, average price) by return flag. */
  def byFlag: Seq[Seq[Any]] = facts.values.groupBy(_.returnFlag).toSeq
    .sortBy(_._1).map { case (k, fs) =>
      Seq(k, fs.size.toLong, fs.map(_.priceCents).sum.toDouble / fs.size)
    }

  /** (priority, lines, price) of the join view, by priority. */
  def byPriority: Seq[Seq[Any]] = facts.values.toSeq
    .flatMap(f => orders.get(f.orderKey).map(o => (o.priority, f)))
    .groupBy(_._1).toSeq.sortBy(_._1).map { case (k, fs) =>
      Seq(k, fs.size.toLong, fs.map(_._2.priceCents).sum)
    }
}

object LakeGen {
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** One line; the ETL derives `l_shipdate` from `shipTs`. */
  final case class Fact(id: Long, orderKey: Long, partKey: Int,
      quantity: Long, priceCents: Long, returnFlag: String,
      lineStatus: String, shipTs: String) {
    def csv: String = s"$id,$orderKey,$partKey,$quantity,$priceCents," +
      s"$returnFlag,$lineStatus,$shipTs"
  }

  final case class Order(key: Long, custKey: Int, status: String,
      priority: String, date: String) {
    def csv: String = s"$key,$custKey,$status,$priority,$date"
  }

  final case class Batch(appendCsv: String, upsertCsv: String,
      deleteCsv: String, whereOrders: Seq[Long], band: (Long, Long),
      dimCsv: String)

  val FactHeader = "l_id,l_orderkey,l_partkey,l_quantity,l_price_cents," +
    "l_returnflag,l_linestatus,l_ship_ts"

  /** The lineitem ingest: the csv_to_ice.py chain of `TaxiEtl.spec`
    * (explicit casts over the inferred types, a derived date column, a
    * global sort) applied to the lineitem columns. */
  val Spec: graft.sources.Etl.IngestSpec = {
    import org.apache.spark.sql.types._
    graft.sources.Etl.IngestSpec(
      casts = Map("l_id" -> LongType, "l_orderkey" -> LongType,
        "l_partkey" -> IntegerType, "l_quantity" -> LongType,
        "l_price_cents" -> LongType, "l_ship_ts" -> TimestampType),
      deriveDate = Some(("l_ship_ts", "l_shipdate")),
      sortCols = Seq("l_id"))
  }
  val OrderHeader =
    "o_orderkey,o_custkey,o_orderstatus,o_orderpriority,o_orderdate"
  val OrderSchema = "o_orderkey BIGINT, o_custkey INT, " +
    "o_orderstatus STRING, o_orderpriority STRING, o_orderdate STRING"
}
