package lakebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DerivedTable, Etl, Versioned}

/** `lake_commit_mv`: the reference pipeline under a change stream. Set-up
  * ingests a lineitem CSV with `Etl.ingestCsv`, commits it as a versioned
  * fact table next to an orders dimension, and bootstraps two
  * materialized views: an aggregate view (`refreshAgg`) and a
  * fact-dimension join view (`refreshJoinKeys`).
  * Each timed batch commits append, upsert, deleteRows, deleteWhere,
  * updateWhere and a dimension upsert, refreshes every view, runs the read
  * mix (the reference query trio, the views, time travel and a metadata
  * aggregate through the catalog, plus pruned and plain reads) six
  * times, then vacuums. Every read is checked against the generator's
  * model of the tables; after the loop each view must equal its full
  * recompute, and compactDeletes, compact and vacuum precede the space
  * measurement. */
final class LakeCommitMv extends Workload {
  val FactRows = 40000
  val Appends = 800
  val Upserts = 300
  val Deletes = 150
  val StatsCols = Seq("l_id", "l_orderkey")
  /** The read mix runs this many times after each batch; the first pass
    * plans and compiles, the later ones give the read latencies. */
  val ReadPasses = 6

  private var gen: LakeGen = _
  private var stage, fact, dim, aggMv, joinMv = ""
  private var meter: WriteMeter = _
  private var batches = 0
  private var spaceAmp = Double.NaN
  private var pruned, scanRows, matched, liveAtRead = 0L
  private var layer = Map.empty[String, Double]

  private def tables = Seq(fact, dim, aggMv, joinMv)

  private def joinView(f: DataFrame, d: DataFrame): DataFrame =
    f.join(d, f("l_orderkey") === d("o_orderkey"))
      .select(f("l_id"), f("l_orderkey"), f("l_price_cents"),
        d("o_orderpriority"), d("o_orderstatus"))

  private def refreshAll(run: Run): Unit = {
    val s = run.spark
    run.op("DerivedTable.refreshAgg", "refresh")(DerivedTable.refreshAgg(s,
      fact, aggMv, "l_id", Seq("l_returnflag", "l_linestatus"),
      "l_price_cents", moreValues = Seq("l_quantity")))()
    run.op("DerivedTable.refreshJoinKeys", "refresh")(
      DerivedTable.refreshJoinKeys(s, fact, dim, joinMv, "l_id",
        Seq("l_orderkey"), Seq("o_orderkey"), joinView))()
  }

  /** A change file through the same ingest transform as the table. */
  private def etl(s: SparkSession, path: String): DataFrame =
    Etl.transform(Etl.readCsv(s, path), LakeGen.Spec)

  private def csv(s: SparkSession, schema: String, path: String) =
    s.read.option("header", "true").schema(schema).csv(path)

  def setup(run: Run, dir: String): Unit = {
    val s = run.spark
    gen = new LakeGen(run.seed, s"$dir/input")
    val (factCsv, orderCsv) = gen.initial(FactRows)
    stage = s"$dir/etl"
    fact = s"$dir/lineitem"
    dim = s"$dir/orders"
    aggMv = s"$dir/mv_agg"
    joinMv = s"$dir/mv_join"
    run.op("Etl.ingestCsv")(Etl.ingestCsv(s, factCsv, stage, LakeGen.Spec))()
    run.op("Versioned.append")(Versioned.append(Etl.readTable(s, stage),
      fact, statsCols = StatsCols))()
    run.op("Versioned.append")(Versioned.append(
      csv(s, LakeGen.OrderSchema, orderCsv), dim,
      statsCols = Seq("o_orderkey")))()
    refreshAll(run)
    meter = new WriteMeter(tables)
    meter.baseline()
    batches = 0
  }

  /** One commit of the batch: timed as a write, metered for bytes. */
  private def commit(run: Run, span: String)(body: => Int): Unit = {
    run.op(span, "write")(body)()
    meter.poll()
  }

  /** The batch's six commits, in the order the model applied them. */
  private def commitAll(run: Run, b: LakeGen.Batch): Unit = {
    val s = run.spark
    commit(run, "Versioned.append")(Versioned.append(etl(s, b.appendCsv),
      fact, statsCols = StatsCols))
    commit(run, "Versioned.upsert")(Versioned.upsert(s, fact,
      etl(s, b.upsertCsv), "l_id", statsCols = StatsCols))
    commit(run, "Versioned.deleteRows")(Versioned.deleteRows(s, fact,
      csv(s, "l_id BIGINT", b.deleteCsv)))
    commit(run, "Versioned.deleteWhere")(Versioned.deleteWhere(s, fact,
      col("l_orderkey").isin(b.whereOrders: _*)))
    commit(run, "Versioned.updateWhere")(Versioned.updateWhere(s, fact,
      col("l_id").between(b.band._1, b.band._2),
      Seq("l_quantity" -> (col("l_quantity") + 1))))
    commit(run, "Versioned.upsert")(Versioned.upsert(s, dim,
      csv(s, LakeGen.OrderSchema, b.dimCsv), "o_orderkey",
      statsCols = Seq("o_orderkey")))
  }

  /** A catalog SQL read: plan (forcing the physical plan), then execute;
    * its rows must equal `want`. */
  private def sql(run: Run, cat: String, text: String,
      want: => Seq[Seq[Any]]): Unit =
    run.op("", cat) {
      val df = run.tracer.span("GraftCatalog.plan") {
        val d = run.spark.sql(text)
        d.queryExecution.executedPlan
        d
      }
      run.tracer.span("GraftCatalog.exec")(df.collect())
    }(rows => Answers.same(rows.toSeq.map(_.toSeq), want))

  /** A programmatic read under `span`; its rows must equal `want`. */
  private def read(run: Run, cat: String, span: String,
      want: => Seq[Seq[Any]])(body: => DataFrame): Unit =
    run.op(span, cat)(body.collect())(rows =>
      Answers.same(rows.toSeq.map(_.toSeq), want))

  private def oneBatch(run: Run, i: Int): Unit = {
    val s = run.spark
    val (n0, _, qty0, _) = gen.factSums
    val v0 = Versioned.currentVersion(s, fact)
    val ts0 = System.currentTimeMillis()
    val b = gen.batch(i, Appends, Upserts, Deletes)
    val t0 = System.nanoTime()
    val c0 = Run.cpuNanos
    commitAll(run, b)
    refreshAll(run)
    run.sample("fresh", Run.secondsSince(t0))
    run.sample("cpu:fresh", (Run.cpuNanos - c0) / 1e9)
    meter.poll()

    (1 to ReadPasses).foreach(p =>
      readMix(run, p == 1, n0, qty0, v0, ts0))

    // every view is pinned to the heads it just read
    run.op("Versioned.vacuum", "maint")(tables.foreach(t =>
      Versioned.vacuum(s, t)))()
  }

  /** The read mix over the state after a batch; every answer is checked
    * against the model. `n0`, `qty0`, `v0` and `ts0` describe the state
    * before the batch, for the time-travel reads. Latencies of the first
    * pass go to `read_first`, the others to `read/<shape>`. */
  private def readMix(run: Run, first: Boolean, n0: Long, qty0: Long,
      v0: Int, ts0: Long): Unit = {
    val s = run.spark
    var shape = 0
    def cat(): String = {
      shape += 1
      if (first) "read_first" else s"read/$shape"
    }
    val (n, ids, qty, price) = gen.factSums
    val t = s"graft.`$fact`"
    sql(run, cat(), s"SELECT count(*) FROM $t WHERE l_quantity = 3",
      Seq(Seq(gen.countQty3)))
    sql(run, cat(), s"SELECT avg(l_price_cents) FROM $t " +
      "WHERE l_quantity < 25 AND l_returnflag = 'N'",
      Seq(Seq(gen.avgPriceSmallN)))
    sql(run, cat(), s"SELECT l_returnflag, count(*), avg(l_price_cents) " +
      s"FROM $t GROUP BY l_returnflag ORDER BY l_returnflag", gen.byFlag)
    sql(run, cat(), s"SELECT sum(n_rows), sum(sum_l_price_cents) " +
      s"FROM graft.`$aggMv`", Seq(Seq(n, price)))
    sql(run, cat(), s"SELECT o_orderpriority, count(*), sum(l_price_cents) " +
      s"FROM graft.`$joinMv` GROUP BY o_orderpriority " +
      "ORDER BY o_orderpriority", gen.byPriority)
    sql(run, cat(), s"SELECT count(*), sum(l_quantity) FROM $t " +
      s"VERSION AS OF $v0", Seq(Seq(n0, qty0)))
    sql(run, cat(), s"SELECT min(l_id), max(l_id), count(*) FROM $t",
      Seq(Seq(gen.facts.keys.min, gen.facts.keys.max, n)))
    read(run, cat(), "Versioned.read", Seq(Seq(n, ids, qty)))(
      Versioned.read(s, fact).agg(count(lit(1)), sum(col("l_id")),
        sum(col("l_quantity"))))
    read(run, cat(), "Versioned.readAsOf", Seq(Seq(n0, qty0)))(
      Versioned.readAsOf(s, fact, ts0).agg(count(lit(1)),
        sum(col("l_quantity"))))
    val lo = gen.newestLine - 2000
    val want = gen.facts.keys.count(_ >= lo).toLong
    run.op("Versioned.readWhere", cat()) {
      val df = Versioned.readWhere(s, fact, "l_id", lo, Long.MaxValue)
        .agg(count(lit(1)))
      val out = df.collect()
      val (f, rows) = Run.scanCounts(df)
      pruned = f
      scanRows = rows
      matched = out.head.getLong(0)
      matched
    }(_ == want)
    liveAtRead = Versioned.dataFileCount(s, fact)
  }

  def timed(run: Run, deadline: Long): Int = {
    while (System.nanoTime() < deadline) {
      oneBatch(run, batches)
      batches += 1
    }
    batches
  }

  def finish(run: Run): Unit = {
    val s = run.spark
    val f = Versioned.read(s, fact)
    val d = Versioned.read(s, dim)
    val agg = Versioned.read(s, aggMv)
    val recompute = f.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_price_cents")).as("sum_l_price_cents"),
        count(col("l_price_cents")).as("cnt_l_price_cents"),
        sum(col("l_quantity")).as("sum_l_quantity"),
        count(col("l_quantity")).as("cnt_l_quantity"))
    run.check("aggregate view equals its recompute")(
      DerivedTable.bagEqual(agg, recompute.select(agg.columns.map(col): _*)))
    run.check("join view equals its recompute")(DerivedTable.bagEqual(
      Versioned.read(s, joinMv), joinView(f, d)))
    val (n, ids, qty, price) = gen.factSums
    run.check("fact table matches the model") {
      val r = f.agg(count(lit(1)), sum(col("l_id")), sum(col("l_quantity")),
        sum(col("l_price_cents"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        ((n, ids, qty, price))
    }
    run.check("orders table matches the model") {
      val r = d.agg(count(lit(1)), sum(col("o_custkey") *
        substring(col("o_orderpriority"), 1, 1).cast("long"))).head()
      (r.getLong(0), r.getLong(1)) == gen.orderSums
    }
    // maintenance, then space after a vacuum of everything left behind
    run.op("Versioned.compactDeletes", "maint")(
      Versioned.compactDeletes(s, fact, statsCols = StatsCols))()
    meter.poll()
    run.op("Versioned.compact", "maint")(
      Versioned.compact(s, fact, statsCols = StatsCols))()
    meter.poll()
    run.op("Versioned.vacuum", "maint")(tables.foreach(t =>
      Versioned.vacuum(s, t)))()
    val live = tables.zipWithIndex.map { case (t, i) =>
      Answers.writtenOnceBytes(Versioned.read(s, t),
        s"${run.opts.work}/live_once_$i")
    }.sum
    spaceAmp = Run.diskBytes(tables).toDouble / live
    layer = Map(
      "Versioned.bytes_written" -> meter.bytes.toDouble,
      "Versioned.files_added" -> meter.dataFiles.toDouble,
      "Versioned.live_files" -> TableFiles.live(s, tables).toDouble,
      "Versioned.tombstone_files" -> TableFiles.tombstones(tables).toDouble,
      "Versioned.read.files_pruned_ratio" ->
        (1.0 - pruned.toDouble / math.max(1L, liveAtRead)),
      "Versioned.read.scan_rows_per_row" ->
        scanRows.toDouble / math.max(1L, matched),
      "DerivedTable.refresh_p50_s" -> Run.median(run.samplesOf("refresh")))
  }

  def endToEnd(run: Run): Map[String, Double] = Map(
    "read_cpu_s" -> run.mixLatency("cpu:read"),
    "write_cpu_s" -> Run.mean(run.samplesOf("cpu:write")),
    "freshness_cpu_s" -> Run.median(run.samplesOf("cpu:fresh")),
    "write_amp" -> meter.bytes.toDouble / gen.changeBytes,
    "space_amp" -> spaceAmp)

  def layerExtras(run: Run): Map[String, Double] = layer
}
