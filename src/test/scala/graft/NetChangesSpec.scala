package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.sources.{DerivedTable, Versioned}

/** [[Versioned.netChanges]]: the signed snapshot diff every
  * materialized-view refresh reads. A generated-history property pins
  * it to `read(to) − read(from)` over every op family, and checks the
  * aggregate and join views refreshed over each window against full
  * recomputes. */
class NetChangesSpec extends SparkSpec {
  private val work = "target/tmp/netchanges-spec"

  private def fresh(name: String): String = {
    val p = s"$work/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    p
  }

  private val W = Versioned.ChangeWeightCol

  /** `diff` equals `to − from` as signed bags: one aggregation over
    * `to` (+1), `from` (−1) and the diff (−weight) must net every row
    * to zero, as [[DerivedTable.bagEqual]] does. */
  private def diffEquals(diff: DataFrame, to: DataFrame,
      from: DataFrame): Boolean = {
    val cols = to.columns.toSeq
    to.withColumn(W, lit(1L))
      .unionByName(from.select(cols.map(col): _*).withColumn(W, lit(-1L)))
      .unionByName(diff.select(cols.map(col) :+ (-col(W)).as(W): _*))
      .groupBy(cols.map(col): _*).agg(sum(col(W)).as("__d"))
      .filter(col("__d") =!= 0L).isEmpty
  }

  private def dataFiles(table: String, v: Int): Seq[String] =
    new java.io.File(s"$table/v=$v").listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq

  test("netChanges scans only the shared files a window tombstone " +
      "may touch") {
    import spark.implicits._
    val t = fresh("prune")
    // four one-file versions with disjoint id ranges and id stats
    def rows(lo: Long) = (lo until lo + 10).map(i => (i, s"r$i"))
      .toDF("id", "v").coalesce(1)
    Versioned.commit(rows(0), t, statsCols = Seq("id"))
    (1 to 3).foreach(b =>
      Versioned.append(rows(b * 10L), t, statsCols = Seq("id")))
    val Seq(a, b, c, d) = (1 to 4).map(v => dataFiles(t, v).head)
    // the window: an equality tombstone whose keys sit in b's file,
    // then an appended (changed) file
    Versioned.deleteRows(spark, t, Seq(12L, 13L).toDF("id"))
    Versioned.append(rows(100), t, statsCols = Seq("id"))
    val e = dataFiles(t, 6).head
    val diff = Versioned.netChanges(spark, t, 4, 6)
    val scanned = diff.inputFiles.toSeq
    def hit(name: String) = scanned.exists(_.endsWith("/" + name))
    assert(hit(b) && hit(e), s"scanned $scanned")
    assert(!hit(a) && !hit(c) && !hit(d), s"scanned $scanned")
    assert(diff.collect().map(r => (r.getLong(0), r.getLong(2))).toSet ==
      Set(12L -> -1L, 13L -> -1L) ++ (100L until 110L).map(_ -> 1L))
    // a metadata-only window is empty
    Versioned.setProperties(spark, t, Map("k" -> "v"))
    assert(Versioned.netChanges(spark, t, 6, 7).isEmpty)
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    p +: inner.flatMap(planNodes)
  }

  test("netChanges over a source without key stats scans each file " +
      "once and aggregates only the rows a tombstone matches") {
    import spark.implicits._
    val t = fresh("nostats")
    // four 50-row files, no stats sidecar: an equality tombstone
    // cannot be pruned and touches every file
    def rows(lo: Long) = (lo until lo + 50).map(i => (i, s"r$i"))
      .toDF("id", "v").coalesce(1)
    Versioned.commit(rows(0), t)
    (1 to 3).foreach(b => Versioned.append(rows(b * 50L), t))
    Versioned.deleteRows(spark, t, Seq(12L, 130L).toDF("id"))
    val diff = Versioned.netChanges(spark, t, 4, 5)
    assert(diff.collect().map(r => (r.getLong(0), r.getLong(2))).toSet ==
      Set(12L -> -1L, 130L -> -1L))
    val plan = planNodes(diff.queryExecution.executedPlan)
    def rowsOut(node: String) = plan.filter(_.nodeName.contains(node))
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    // 200 data rows read once, plus the two-key tombstone
    assert(rowsOut("Scan") <= 200 + 2 * 2, plan.map(_.nodeName))
    // partial and final aggregation see the two matched rows only
    assert(rowsOut("HashAggregate") <= 2 * 2, plan.map(_.nodeName))
  }

  // —— generated histories ——

  private sealed trait Op extends Product
  private case class Append(n: Int) extends Op
  private case class Upsert(n: Int) extends Op
  private case class DeleteKeys(n: Int) extends Op
  private case class DeleteGroup(g: String) extends Op
  private case class DeleteWhere(below: Long) extends Op
  private case class UpdateWhere(g: String) extends Op
  private case object Compact extends Op
  private case object CompactDeletes extends Op
  private case object RenamePay extends Op
  private case object AddCol extends Op

  private val groups = Seq("a", "b", "c", "d")

  private val genOp: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(5, 30).map(Append),
    3 -> Gen.choose(3, 15).map(Upsert),
    2 -> Gen.choose(1, 8).map(DeleteKeys),
    1 -> Gen.oneOf(groups).map(DeleteGroup),
    2 -> Gen.choose(0L, 40L).map(DeleteWhere),
    2 -> Gen.oneOf(groups).map(UpdateWhere),
    1 -> Gen.const(Compact),
    1 -> Gen.const(CompactDeletes),
    1 -> Gen.const(RenamePay),
    1 -> Gen.const(AddCol))

  /** 3–8 ops, each flagged whether the views refresh after it (the
    * last always does). */
  private val genHistory: Gen[Seq[(Op, Boolean)]] = for {
    n <- Gen.choose(3, 8)
    ops <- Gen.listOfN(n, genOp)
    marks <- Gen.listOfN(n, Gen.prob(0.4))
  } yield ops.zip(marks.updated(n - 1, true))

  private val genSeed: Gen[Long] = Gen.long

  // op families the generated histories ran, and whether a view
  // refreshed over a window holding a tombstone keyed off the row key
  private val ran = scala.collection.mutable.Set[String]()

  private def runHistory(history: Seq[(Op, Boolean)], seed: Long,
      dir: String): Prop = {
    import spark.implicits._
    val t = fresh(s"$dir/src")
    val dim = fresh(s"$dir/dim")
    val aggMv = fresh(s"$dir/agg")
    val joinMv = fresh(s"$dir/join")
    val rnd = new scala.util.Random(seed)
    var nextId = 1L
    var pay = "pay"
    def batch(ids: Seq[Long]): DataFrame = ids.map(i =>
      (i, groups(rnd.nextInt(groups.size)), rnd.nextInt(50).toLong,
        s"p${rnd.nextInt(1000)}")).toDF("id", "g", "v", pay)
    def newIds(n: Int): Seq[Long] = {
      val ids = nextId until nextId + n
      nextId += n
      ids
    }
    def existing(n: Int): Seq[Long] =
      Seq.fill(n)(1L + rnd.nextInt(nextId.toInt - 1).toLong).distinct
    Versioned.commit(batch(newIds(60)), t, statsCols = Seq("id"))
    Versioned.commit(groups.map(g => (g, s"label-$g")).toDF("dk", "label"),
      dim)
    val joinView = (f: DataFrame, d: DataFrame) =>
      f.join(d, f("g") === d("dk")).select(f("id"), f("v"), d("label"))
    def build(): Unit = {
      Seq(aggMv, joinMv).foreach(p => org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(p)))
      refreshViews()
    }
    def refreshViews(): Unit = {
      DerivedTable.refreshAgg(spark, t, aggMv, "id", Seq("g"), "v")
      DerivedTable.refreshJoinKeys(spark, t, dim, joinMv, "id", Seq("g"),
        Seq("dk"), joinView)
    }
    def viewsMatch(): Boolean = {
      val src = Versioned.read(spark, t)
      DerivedTable.bagEqual(Versioned.read(spark, aggMv),
        src.groupBy(col("g")).agg(sum(col("v")).as("sum_v"),
          count(col("v")).as("cnt_v"), count(lit(1)).as("n_rows"))) &&
      DerivedTable.bagEqual(Versioned.read(spark, joinMv),
        joinView(src, Versioned.read(spark, dim)))
    }
    build()
    // (schema steps by version: renames and adds, to map an old
    // snapshot onto a newer one's columns)
    val renames = scala.collection.mutable.ArrayBuffer[(Int, String, String)]()
    val adds = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    var foreignTomb = false
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    history.zipWithIndex.foreach { case ((op, refreshAfter), i) =>
      ran += op.productPrefix
      op match {
        case Append(n) =>
          Versioned.append(batch(newIds(n)), t, statsCols = Seq("id"))
        case Upsert(n) =>
          Versioned.upsert(spark, t,
            batch((existing(n) ++ newIds(n / 3)).distinct), "id",
            statsCols = Seq("id"))
        case DeleteKeys(n) =>
          Versioned.deleteRows(spark, t, existing(n).toDF("id"))
        case DeleteGroup(g) =>
          Versioned.deleteRows(spark, t, Seq(g).toDF("g"))
          foreignTomb = true
        case DeleteWhere(below) =>
          Versioned.deleteWhere(spark, t, col("v") < below)
        case UpdateWhere(g) =>
          Versioned.updateWhere(spark, t, col("g") === g,
            Seq("v" -> (col("v") + 1)))
        case Compact =>
          Versioned.compact(spark, t, statsCols = Seq("id"))
        case CompactDeletes =>
          Versioned.compactDeletes(spark, t, statsCols = Seq("id"))
        case RenamePay =>
          val next = s"pay$i"
          Versioned.renameColumn(spark, t, pay, next)
          renames += ((Versioned.currentVersion(spark, t), pay, next))
          pay = next
        case AddCol =>
          Versioned.addColumn(spark, t, s"x$i", LongType)
          adds += ((Versioned.currentVersion(spark, t), s"x$i"))
      }
      if (refreshAfter) {
        // a window holding a tombstone keyed off the row key refreshes
        // like any other: the net diff carries the deleted rows whole
        if (foreignTomb) ran += "foreignTombWindow"
        foreignTomb = false
        refreshViews()
        if (!viewsMatch()) failures += s"views diverge after op $i"
      }
    }
    // random ancestor windows: the diff is read(to) − read(from), with
    // the old snapshot mapped onto the newer one's columns
    val head = Versioned.currentVersion(spark, t)
    Seq.fill(3) {
      val a = 1 + rnd.nextInt(head)
      val b = 1 + rnd.nextInt(head)
      (math.min(a, b), math.max(a, b))
    }.filter { case (from, to) => from < to }.distinct.foreach {
      case (from, to) =>
        val old = renames.filter(r => r._1 > from && r._1 <= to)
          .foldLeft(Versioned.read(spark, t, Some(from))) {
            case (df, (_, a, b)) => df.withColumnRenamed(a, b) }
        val mapped = adds.filter(x => x._1 > from && x._1 <= to)
          .foldLeft(old) { case (df, (_, c)) =>
            df.withColumn(c, lit(null).cast(LongType)) }
        if (!diffEquals(Versioned.netChanges(spark, t, from, to),
            Versioned.read(spark, t, Some(to)), mapped))
          failures += s"netChanges($from, $to) != read($to) - read($from)"
    }
    Prop(failures.isEmpty) :| failures.mkString("; ") :|
      s"history $history"
  }

  test("property: netChanges is the signed bag difference of its two " +
      "snapshots, and views refreshed over each window equal their " +
      "recomputes") {
    var run = 0
    val prop = Prop.forAllNoShrink(genHistory, genSeed) { (h, seed) =>
      run += 1
      runHistory(h, seed, s"h$run")
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(4).withWorkers(1)
      .withInitialSeed(Seed(30L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(ran == Set("Append", "Upsert", "DeleteKeys", "DeleteGroup",
      "DeleteWhere", "UpdateWhere", "Compact", "CompactDeletes",
      "RenamePay", "AddCol", "foreignTombWindow"), s"covered only $ran")
  }
}
