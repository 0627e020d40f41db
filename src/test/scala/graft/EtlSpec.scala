package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Etl

class EtlSpec extends SparkSpec {

  private val work = "target/tmp/etl-spec"

  test("csv round-trip: infer, cast, derive date, sort, partitioned write") {
    val src = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    // CSV stage (timestamps serialized as strings, like a raw feed)
    src.withColumn("l_shipdate", date_format(col("l_shipdate"),
        "yyyy-MM-dd HH:mm:ss"))
      .coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$work/raw_csv")

    Etl.ingestCsv(spark, s"$work/raw_csv", s"$work/table",
      Etl.IngestSpec(
        casts = Map("l_shipdate" -> TimestampType,
          "l_quantity" -> DoubleType),
        deriveDate = Some(("l_shipdate", "ship_day")),
        sortCols = Seq("l_orderkey", "l_linenumber"),
        partitionCol = Some("ship_day")))

    val back = Etl.readTable(spark, s"$work/table")
    assert(back.count() == src.count())
    assert(back.schema("l_shipdate").dataType == TimestampType)
    assert(back.columns.contains("ship_day"))
    // partition layout exists on disk (hive-style dirs)
    val dirs = new java.io.File(s"$work/table").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("ship_day=")))
  }

  test("createOrReplace atomically replaces table contents") {
    import spark.implicits._
    Etl.createOrReplace(Seq(1, 2, 3).toDF("v"), s"$work/swap", None)
    assert(Etl.readTable(spark, s"$work/swap").count() == 3)
    Etl.createOrReplace(Seq(9).toDF("v"), s"$work/swap", None)
    val after = Etl.readTable(spark, s"$work/swap")
    assert(after.count() == 1 && after.head().getInt(0) == 9)
  }

  test("taxi preset reproduces the reference transform chain") {
    import spark.implicits._
    import graft.sources.TaxiEtl
    // A taxi-shaped raw frame as CSV inference would deliver it
    // (strings for timestamps, long for passenger_count).
    val raw = Seq(
      (2, "2015-01-15 19:05:39", "2015-01-15 19:23:42", 1L, 1.59, 5.0),
      (1, "2015-01-10 20:33:38", "2015-01-10 20:53:28", 3L, 3.30, 12.5))
      .toDF("VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
        "passenger_count", "trip_distance", "total_amount")
    val out = graft.sources.Etl.transform(raw, TaxiEtl.spec)
    assert(out.schema("tpep_pickup_datetime").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(out.schema("passenger_count").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // pickup_date is the STRING the reference actually produces
    assert(out.schema("pickup_date").dataType ==
      org.apache.spark.sql.types.StringType)
    val days = out.select("pickup_date").collect().map(_.getString(0))
    assert(days.toSet == Set("2015-01-15", "2015-01-10"))
    // the 20-column reference schema is available as the canonical DDL
    assert(TaxiEtl.schema.fields.length == 20)
  }

  test("versioned table: commit, time travel, vacuum") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned"
    // fresh table per run — versions accumulate by design
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val v1 = Versioned.commit(Seq(1, 2, 3).toDF("v"), t)
    val v2 = Versioned.commit(Seq(4, 5).toDF("v"), t)
    assert(v1 == 1 && v2 == 2)
    assert(Versioned.currentVersion(spark, t) == 2)
    // current read sees the newest snapshot
    assert(Versioned.read(spark, t).count() == 2)
    // time travel to the first snapshot
    assert(Versioned.read(spark, t, Some(1))
      .collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 3)))
    assert(Versioned.versions(spark, t) == Seq(1, 2))
    // vacuum retains the current version only
    Versioned.vacuum(spark, t, keep = 1)
    assert(Versioned.versions(spark, t) == Seq(2))
    assert(Versioned.read(spark, t).count() == 2)
  }

  test("versioned table: upsert and delete are atomic copy-on-write commits") {
    import spark.implicits._
    import graft.sources.Versioned
    import org.apache.spark.sql.functions.col
    val t = s"$work/versioned_merge"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "x"),
      t)
    // update id=2, insert id=4, and bring a NEW column (schema evolution)
    val v2 = Versioned.upsert(spark, t,
      Seq((2L, "B", 21, "eu"), (4L, "d", 40, "us"))
        .toDF("id", "name", "x", "region"),
      key = "id")
    assert(v2 == 2)
    val after = Versioned.read(spark, t)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getString(3))).toMap
    assert(after == Map(
      1L -> ("a", 10, null), 2L -> ("B", 21, "eu"),
      3L -> ("c", 30, null), 4L -> ("d", 40, "us")))
    // duplicate keys in the updates frame are a MERGE error, not a
    // silent double-append
    intercept[IllegalArgumentException] {
      Versioned.upsert(spark, t,
        Seq((7L, "x", 1, "eu"), (7L, "y", 2, "eu"))
          .toDF("id", "name", "x", "region"), key = "id")
    }
    // DELETE keeps NULL-predicate rows (SQL semantics): only id=2 has
    // region='eu'; ids 1 and 3 have region=null and must survive
    val v3 = Versioned.delete(spark, t, col("region") === "eu")
    assert(v3 == 3)
    assert(Versioned.read(spark, t).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L))
    // delete by plain predicate
    val v4 = Versioned.delete(spark, t, col("x") >= 30)
    assert(v4 == 4)
    assert(Versioned.read(spark, t).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L))
    // full history retained
    assert(Versioned.read(spark, t, Some(1)).count() == 3)
    assert(Versioned.read(spark, t, Some(2)).count() == 4)
  }

  test("readWhereIn prunes a sparse value set beyond its covering range") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_wherein"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // 8 files of disjoint id ranges with id stats: a sparse IN-set
    // touching 2 ranges must scan ~2 files, while the covering range
    // [min, max] spans nearly all of them
    Versioned.commit((1 to 800).map(i => (i, i * 10)).toDF("id", "x")
      .repartitionByRange(8, col("id")), t, statsCols = Seq("id"))
    val values = Seq(50, 55, 750)
    val in = Versioned.readWhereIn(spark, t, "id", values)
    // exact: equals the unpruned isin filter
    assert(in.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      values.sorted)
    val all = Versioned.read(spark, t).inputFiles.length
    val inN = in.inputFiles.length
    val rangeN = Versioned.readWhere(spark, t, "id", 50, 750)
      .inputFiles.length
    info(s"in=$inN range=$rangeN all=$all")
    assert(inN < rangeN && rangeN >= all - 1,
      "the sparse set must prune harder than its covering range")
    assert(inN <= 2)
    // values entirely outside every file scan nothing but return empty
    assert(Versioned.readWhereIn(spark, t, "id", Seq(-5, 9999))
      .count() == 0)
    // merge-on-read tombstones still apply through the pruned read
    Versioned.deleteRows(spark, t, Seq(55).toDF("id"))
    assert(Versioned.readWhereIn(spark, t, "id", values)
      .select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(50, 750))
  }

  test("readWhereIn with 1,000 values runs on a 1 MB thread stack") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_wherein_wide"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit((1 to 2000).map(i => (i, i * 10)).toDF("id", "x")
      .repartitionByRange(8, col("id")), t, statsCols = Seq("id"))
    // 1,000 values, a third of them beyond every file's bounds: the
    // pruning test's depth must not grow with the set size
    val values = (1 to 1000).map(_ * 3)
    var got: Either[Throwable, Seq[Int]] = Left(new IllegalStateException)
    val th = new Thread(null, () => got =
      try Right(Versioned.readWhereIn(spark, t, "id", values)
        .select("id").collect().map(_.getInt(0)).sorted.toSeq)
      catch { case e: Throwable => Left(e) },
      "wherein-1mb", 1L << 20)
    th.start(); th.join()
    val expect = Versioned.read(spark, t).filter(col("id").isin(values: _*))
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    got match {
      case Left(e) => fail(s"readWhereIn failed: $e")
      case Right(ids) => assert(ids == expect)
    }
  }

  test("versioned table: merge rewrites only touched files, links the rest") {
    import spark.implicits._
    import graft.sources.Versioned
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val t = s"$work/versioned_filemerge"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // 8 files of disjoint key ranges, with key stats: the merge's
    // provenance scan takes the stats-pruned path (candidate files
    // only), which must find the same touched files as a full scan
    Versioned.commit((1 to 800).map(i => (i, i * 10)).toDF("id", "x")
      .repartitionByRange(8, col("id")), t, statsCols = Seq("id"))
    def v1Files(): Map[java.nio.file.Path, java.nio.file.attribute.FileTime] =
      Files.walk(Paths.get(s"$t/v=1")).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          p.getParent.getFileName.toString != "_stats")
        .map(p => p -> Files.getLastModifiedTime(p)).toMap
    val before = v1Files()
    assert(before.size == 8)
    // single-key upsert: exactly ONE file rewritten, seven linked
    val v2 = Versioned.upsert(spark, t, Seq((42, -1)).toDF("id", "x"), "id")
    assert(v2 == 2)
    assert(v1Files() == before, "v=1 files must be untouched")
    // the new version's own dir holds only the one rewritten file
    val v2Own = Files.walk(Paths.get(s"$t/v=2")).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    assert(v2Own == 1, s"expected 1 rewritten file, got $v2Own")
    val cur = Versioned.read(spark, t)
    assert(cur.count() == 800)
    assert(cur.filter(col("id") === 42).select("x").head().getInt(0) == -1)
    assert(cur.filter(col("id") === 41).select("x").head().getInt(0) == 410)
    // single-row delete: again one file rewritten, history intact
    val v3 = Versioned.delete(spark, t, col("id") === 100)
    assert(v3 == 3)
    assert(v1Files() == before)
    assert(Versioned.read(spark, t).count() == 799)
    assert(Versioned.read(spark, t, Some(1))
      .filter(col("id") === 42).select("x").head().getInt(0) == 420)
    assert(Versioned.read(spark, t, Some(2)).count() == 800)
    // a delete matching nothing is a no-op, not a new version
    assert(Versioned.delete(spark, t, col("id") === -999) == 3)
    assert(Versioned.versions(spark, t) == Seq(1, 2, 3))
    // upsert of only-new keys takes the pure append path (O(delta))
    val v4 = Versioned.upsert(spark, t,
      Seq((1001, 1), (1002, 2)).toDF("id", "x"), "id")
    assert(v4 == 4 && v1Files() == before)
    assert(Versioned.read(spark, t).count() == 801)
    // deleting EVERY row still publishes a readable empty snapshot
    val v5 = Versioned.delete(spark, t, lit(true))
    assert(v5 == 5)
    assert(Versioned.read(spark, t).count() == 0)
    assert(Versioned.read(spark, t).columns.toSeq == Seq("id", "x"))
    assert(Versioned.read(spark, t, Some(4)).count() == 801)
  }

  test("disjoint-key upsert over a live MoR tombstone links the " +
      "standing files — the all-pruned probe stays analyzable") {
    import spark.implicits._
    import graft.sources.Versioned
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val t = s"$work/versioned_disjoint_mor"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit((1 to 100).map(i => (i, i)).toDF("id", "x"), t,
      statsCols = Seq("id"))
    // a LIVE equality tombstone makes the full read plan carry an
    // anti-join; a disjoint-key upsert then prunes EVERY file, and
    // the empty probe must still take input_file_name (the
    // mergeFiles provenance column) — i.e. be a single-source plan —
    // landing the batch as a linked append, not an analysis error
    Versioned.deleteRows(spark, t, Seq(Tuple1(5)).toDF("id"))
    val before = Files.walk(Paths.get(s"$t/v=1")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        p.getParent.getFileName.toString != "_stats")
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    val v = Versioned.upsert(spark, t,
      Seq((1001, 1)).toDF("id", "x"), "id")
    assert(v == 3)
    assert(Files.walk(Paths.get(s"$t/v=1")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        p.getParent.getFileName.toString != "_stats")
      .map(p => p -> Files.getLastModifiedTime(p)).toMap == before,
      "standing v=1 files must link untouched")
    assert(Versioned.read(spark, t).count() == 100) // 100 - 1 + 1
    assert(Versioned.read(spark, t).filter(col("id") === 5).isEmpty)
  }

  test("append refuses ambiguous batch columns up-front; vacuum " +
      "invalidates memoized plans") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_append_guard"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, 10)).toDF("id", "x"), t)
    // a batch with case-variant duplicate names (the join-output
    // shape) must fail the documented up-front contract — not slip
    // through the structural fast path and die mid-stage-write
    val dup = Seq((2, 20)).toDF("id", "x")
      .select(col("id"), col("x"), col("id").as("ID"))
    val e = intercept[IllegalArgumentException](
      Versioned.append(dup, t))
    assert(e.getMessage.contains("append schema incompatible"))
    assert(!new java.io.File(t).listFiles()
      .exists(_.getName.startsWith(".stage-")), "no stage litter")
    // memoized read plans die with their versions: prime the memo,
    // expire the version, and the next read must fail at PLAN time
    // with the protocol's error — never serve a stale file list
    Versioned.append(Seq((2, 20)).toDF("id", "x"), t)
    assert(Versioned.read(spark, t, Some(1)).count() == 1) // memoize
    Versioned.compact(spark, t)
    Versioned.vacuum(spark, t, keep = 1)
    intercept[Exception](Versioned.read(spark, t, Some(1)))
    assert(Versioned.read(spark, t).count() == 2)
  }

  test("versioned table: merge-on-read delete links all data, compact collapses") {
    import spark.implicits._
    import graft.sources.Versioned
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val t = s"$work/versioned_mor_delete"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit((1 to 800).map(i => (i, i * 10)).toDF("id", "x")
      .repartitionByRange(4, col("id")), t, statsCols = Seq("id"))
    def v1State() = Files.walk(Paths.get(s"$t/v=1")).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString -> (Files.getLastModifiedTime(p),
        Files.size(p))).toMap
    val before = v1State()
    // the tombstone commit: O(keys) I/O, no data file rewritten
    val v2 = Versioned.deleteRows(spark, t, Seq(42, 700).toDF("id"))
    assert(v2 == 2 && v1State() == before)
    val fl = Versioned.files(spark, t).collect()
    assert(fl.count(_.getString(4) == "delete") == 1)
    // every DATA file is still v=1's, linked unchanged
    assert(fl.filter(_.getString(4) == "data")
      .forall(r => r.getString(0).startsWith("v=1/") && r.getBoolean(3)))
    // read applies the tombstone; time travel to v1 is exact
    assert(Versioned.read(spark, t).count() == 798)
    assert(Versioned.read(spark, t)
      .filter(col("id").isin(42, 700)).count() == 0)
    assert(Versioned.read(spark, t, Some(1)).count() == 800)
    // a key re-inserted AFTER the delete survives (sequence rule)
    Versioned.append(Seq((42, -1)).toDF("id", "x"), t)
    assert(Versioned.read(spark, t).filter(col("id") === 42)
      .select("x").collect().map(_.getInt(0)).toSeq == Seq(-1))
    // tombstones stack, and the stats-pruned read agrees with read()
    Versioned.deleteRows(spark, t, Seq(43).toDF("id"))
    assert(Versioned.read(spark, t).count() == 798)
    val rw = Versioned.readWhere(spark, t, "id", 40, 45)
    assert(rw.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(40, 41, 42, 44, 45))
    assert(rw.inputFiles.length <
      Versioned.read(spark, t).inputFiles.length)
    // a copy-on-write upsert over tombstoned files never resurrects
    Versioned.upsert(spark, t, Seq((44, 0)).toDF("id", "x"), "id")
    val after = Versioned.read(spark, t)
    assert(after.count() == 798)
    assert(after.filter(col("id").isin(43, 700)).count() == 0)
    assert(after.filter(col("id") === 44).select("x")
      .collect().map(_.getInt(0)).toSeq == Seq(0))
    // the tombstone applies as a BROADCAST anti-join (key-scale side),
    // never a shuffle of the data — the plan shape that holds at 100 TB
    locally {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def nodes(p: SparkPlan): Seq[SparkPlan] = {
        val inner = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case o => o.children
        }
        p +: inner.flatMap(nodes)
      }
      val df = Versioned.read(spark, t)
      df.collect()
      val executed = nodes(df.queryExecution.executedPlan)
      assert(executed.exists(n =>
        n.nodeName.contains("BroadcastHashJoin") &&
          n.toString.contains("LeftAnti")))
      assert(!executed.exists(_.nodeName.contains("SortMergeJoin")))
    }
    // compact collapses tombstones into a self-contained snapshot
    Versioned.compact(spark, t)
    val flc = Versioned.files(spark, t).collect()
    assert(flc.forall(_.getString(4) == "data"))
    assert(Versioned.read(spark, t).count() == 798)
    assert(Versioned.read(spark, t).filter(col("id") === 700).count() == 0)
    // unknown key column is refused up-front
    intercept[IllegalArgumentException] {
      Versioned.deleteRows(spark, t, Seq(1).toDF("nope"))
    }
  }

  test("versioned table: positional deletes tombstone rows without rewriting files") {
    import spark.implicits._
    import graft.sources.Versioned
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val t = s"$work/versioned_posdelete"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // NON-UNIQUE key k: equality deletes cannot express "delete only
    // some of a key's rows" — the positional flavor can
    Versioned.commit((1 to 100).map(i => (i % 10, i)).toDF("k", "seq")
      .repartitionByRange(4, col("seq")), t, statsCols = Seq("seq"))
    def dataState() = Files.walk(Paths.get(s"$t/v=1")).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString -> (Files.getLastModifiedTime(p),
        Files.size(p))).toMap
    val before = dataState()
    val v2 = Versioned.deleteWhere(spark, t, col("seq") > 90)
    assert(v2 == 2)
    // O(matches) tombstone, zero data files rewritten
    assert(dataState() == before)
    assert(Versioned.read(spark, t).count() == 90)
    val fl = Versioned.files(spark, t).collect()
    assert(fl.count(_.getString(4) == "delete") == 1)
    assert(fl.exists(_.getString(2) == "v=2/_posdeletes"))
    assert(fl.filter(_.getString(4) == "data")
      .forall(r => r.getString(0).startsWith("v=1/")))
    // a no-match positional delete is a no-op (scan already paid)
    assert(Versioned.deleteWhere(spark, t, col("seq") > 1000) == 2)
    // sequence rule: a row appended AFTER the tombstone survives even
    // though the predicate would have matched it
    Versioned.append(Seq((99, 95)).toDF("k", "seq"), t)
    val s95 = Versioned.read(spark, t).filter(col("seq") === 95)
      .select("k").collect().map(_.getInt(0)).toSeq
    assert(s95 == Seq(99))
    // equality and positional tombstones stack on one table
    Versioned.deleteRows(spark, t, Seq(5).toDF("k"))
    assert(Versioned.read(spark, t).count() == 82) // 91 - 9 k=5 rows
    Versioned.deleteWhere(spark, t, col("k") === 0 && col("seq") < 50)
    assert(Versioned.read(spark, t).count() == 78)
    // the stats-pruned read path agrees with the plain read
    val rw = Versioned.readWhere(spark, t, "seq", 1, 50)
    assert(rw.select("seq").collect().map(_.getInt(0)).sorted.toSeq ==
      Versioned.read(spark, t).filter(col("seq").between(1, 50))
        .select("seq").collect().map(_.getInt(0)).sorted.toSeq)
    // time travel still sees pre-delete snapshots exactly
    assert(Versioned.read(spark, t, Some(1)).count() == 100)
    // compact collapses every tombstone flavor into data
    Versioned.compact(spark, t)
    val flc = Versioned.files(spark, t).collect()
    assert(flc.forall(_.getString(4) == "data"))
    assert(Versioned.read(spark, t).count() == 78)
    assert(Versioned.read(spark, t)
      .filter(col("k") === 0 && col("seq") < 50).count() == 0)
  }

  test("versioned table: null keys — tombstones match null, merges reject it") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_null_keys"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(
      Seq((Some(1), "a"), (None, "b"), (Some(3), "c")).toDF("id", "v"), t)
    // Iceberg-v2 equality-delete semantics: a null-valued delete key
    // deletes exactly the rows whose column IS null (plain SQL `=`
    // would silently never match them)
    Versioned.deleteRows(spark, t, Seq(Option.empty[Int]).toDF("id"))
    assert(Versioned.read(spark, t).select("v").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("a", "c"))
    // a non-null tombstone key still never touches other rows
    Versioned.deleteRows(spark, t, Seq(Some(1)).toDF("id"))
    assert(Versioned.read(spark, t).select("v").collect()
      .map(_.getString(0)).toSeq == Seq("c"))
    // a null UPSERT key can never match the merge's equality joins —
    // it would append a fresh null-key row per call forever, so it is
    // rejected up-front (as is a null delete key in applyChanges-land
    // upserts); deleteRows above is the null-capable path
    intercept[IllegalArgumentException] {
      Versioned.upsert(spark, t,
        Seq((Option.empty[Int], "x")).toDF("id", "v"), "id")
    }
    // applyChanges with a null DELETE key: the rewrite's anti-join is
    // null-safe like the riding tombstone, so null rows die in
    // REWRITTEN files exactly as in untouched ones — deletion must
    // never depend on physical file placement. File A holds (3, null),
    // file B holds (7, null); upserting key 3 touches only A.
    val t2 = s"$work/versioned_null_cdc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t2))
    Versioned.commit(
      Seq((Some(3), "a3"), (Option.empty[Int], "na")).toDF("id", "v")
        .coalesce(1), t2)
    Versioned.append(
      Seq((Some(7), "b7"), (Option.empty[Int], "nb")).toDF("id", "v")
        .coalesce(1), t2)
    Versioned.applyChanges(spark, t2,
      upserts = Seq((Some(3), "A3")).toDF("id", "v"),
      deleteKeys = Seq(Option.empty[Int]).toDF("id"), key = "id")
    assert(Versioned.read(spark, t2).select("v").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("A3", "b7"))
  }

  test("versioned table: drop-and-recreate at the same path reads the new schema") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_recreate"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t)
    // populate the schema memo for v=1's scan unit
    assert(Versioned.read(spark, t).collect().length == 1)
    // drop the table and recreate a DIFFERENT one at the same path in
    // the same JVM (and plausibly the same millisecond): the memo keys
    // on the commit's owner-token UUID, so the old schema can never
    // revive for the new table's files
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((2.5, true)).toDF("score", "flag"), t)
    val df = Versioned.read(spark, t)
    assert(df.columns.toSeq == Seq("score", "flag"))
    assert(df.collect().map(r => (r.getDouble(0), r.getBoolean(1)))
      .toSeq == Seq((2.5, true)))
  }

  test("versioned table: concurrent appends auto-retry and all land") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_race_retry"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((0, "base")).toDF("id", "who"), t)
    // two writers started on a barrier race every round for the same
    // version slot; the loser's append re-resolves and retries
    // internally — no caller-side retry loop
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def appender(who: String, ids: Range): Thread = {
      val th = new Thread(() => {
        try {
          barrier.await()
          ids.foreach { i =>
            Versioned.append(Seq((i, who)).toDF("id", "who"), t)
          }
        } catch { case e: Throwable => errs.add(e) }
      })
      th.start(); th
    }
    val threads = Seq(appender("a", 1 to 4), appender("b", 5 to 8))
    threads.foreach(_.join(180000))
    assert(errs.isEmpty, s"concurrent append failed: ${errs.peek()}")
    // every batch landed exactly once, each commit linked the
    // then-current snapshot — nothing lost, nothing doubled
    assert(Versioned.versions(spark, t).size == 9)
    assert(Versioned.read(spark, t).select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == (0 to 8))
    // a tombstone delete auto-retries the same way
    val b2 = new java.util.concurrent.CyclicBarrier(2)
    val errs2 = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val td = new Thread(() => {
      try { b2.await()
        Versioned.deleteRows(spark, t, Seq(5).toDF("id")) }
      catch { case e: Throwable => errs2.add(e) }
    })
    val ta = new Thread(() => {
      try { b2.await()
        Versioned.append(Seq((9, "c")).toDF("id", "who"), t) }
      catch { case e: Throwable => errs2.add(e) }
    })
    td.start(); ta.start(); td.join(60000); ta.join(60000)
    assert(errs2.isEmpty, s"concurrent delete/append failed: ${errs2.peek()}")
    assert(Versioned.read(spark, t).select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2, 3, 4, 6, 7, 8, 9))
  }

  test("versioned table: null-count stats prune IS NULL / IS NOT NULL reads") {
    import spark.implicits._
    import graft.sources.Versioned
    import org.apache.spark.sql.functions.col
    val t = s"$work/versioned_null_stats"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // four hive partitions -> four files with distinct null profiles
    // for v: grp 0 all-null, grp 1 no-null, grps 2/3 mixed
    val df = (0 until 40).map { i =>
      val grp = i / 10
      val v = grp match {
        case 0 => None
        case 1 => Some(i)
        case _ => if (i % 2 == 0) Some(i) else None
      }
      (i, grp, v)
    }.toDF("id", "grp", "v")
    Versioned.commit(df, t, partitionCol = Some("grp"),
      statsCols = Seq("id", "v"))
    val full = Versioned.read(spark, t).inputFiles.length
    val oracle = Versioned.read(spark, t)
    // IS NULL: the no-null file (grp 1) is skipped before listing
    val isNull = Versioned.readWhereNull(spark, t, "v", isNull = true)
    assert(isNull.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      oracle.filter(col("v").isNull).select("id").collect()
        .map(_.getInt(0)).sorted.toSeq)
    assert(isNull.inputFiles.length < full)
    assert(!isNull.inputFiles.exists(_.contains("grp=1")))
    // IS NOT NULL: the all-null file (grp 0) is skipped — without
    // value counts, min/max-null could mean "cast-failed bounds"
    val notNull = Versioned.readWhereNull(spark, t, "v", isNull = false)
    assert(notNull.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      oracle.filter(col("v").isNotNull).select("id").collect()
        .map(_.getInt(0)).sorted.toSeq)
    assert(notNull.inputFiles.length < full)
    assert(!notNull.inputFiles.exists(_.contains("grp=0")))
    // range pruning still works alongside (id stats on the same sidecar)
    assert(Versioned.readWhere(spark, t, "id", 0, 9)
      .inputFiles.length < full)
    // a format-v1 sidecar (bounds only) still parses and range-prunes,
    // but never null-prunes: correctness holds, pruning degrades
    val sc = new java.io.File(s"$t/v=1/_stats.tsv")
    val v1Lines = scala.io.Source.fromFile(sc).getLines().map { l =>
      l.split("\t").take(5).mkString("\t")
    }.mkString("\n")
    val w = new java.io.PrintWriter(sc); w.write(v1Lines); w.close()
    // drop the Hadoop checksum of the original sidecar, or the local
    // FS (rightly) refuses the hand-edited file as torn
    new java.io.File(s"$t/v=1/._stats.tsv.crc").delete()
    val isNullV1 = Versioned.readWhereNull(spark, t, "v", isNull = true)
    assert(isNullV1.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      oracle.filter(col("v").isNull).select("id").collect()
        .map(_.getInt(0)).sorted.toSeq)
    assert(isNullV1.inputFiles.length == full)
    assert(Versioned.readWhere(spark, t, "id", 0, 9)
      .inputFiles.length < full)
  }

  test("versioned table: transform pruning is exact across session time zones") {
    import spark.implicits._
    import graft.sources.Versioned
    import org.apache.spark.sql.functions.col
    val t = s"$work/versioned_tz"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    try {
      // write under UTC: one row per hour over three days, hour-partitioned
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val df = (0 until 72).map { i =>
        (i, s"2024-03-0${1 + i / 24} ${"%02d".format(i % 24)}:15:00")
      }.toDF("id", "ts_s")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      Versioned.commit(df, t,
        transform = Some(Versioned.Transform.Hours("ts")))
      // partition pruning happens at planning, so count the files the
      // EXECUTED scan actually touched (inputFiles lists the relation
      // before pruning)
      def scanned(q: org.apache.spark.sql.DataFrame): Long = {
        q.collect()
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        def nodes(p: SparkPlan): Seq[SparkPlan] = {
          val inner = p match {
            case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case qs: QueryStageExec => Seq(qs.plan)
            case o => o.children
          }
          p +: inner.flatMap(nodes)
        }
        nodes(q.queryExecution.executedPlan)
          .collect { case fs: FileSourceScanExec =>
            fs.metrics("numFiles").value }.sum
      }
      val full = scanned(Versioned.read(spark, t))
      // same-zone read: exact hour bounds, no widening
      val same = Versioned.readWhere(spark, t, "ts",
        "2024-03-02 05:30:00", "2024-03-02 06:30:00")
      assert(same.select("id").collect().map(_.getInt(0)).toSeq == Seq(30))
      assert(scanned(same) < full)
      // flip the READER's zone: range literals now mean LA wall time
      // (-08:00 in early March). The partition values on disk were
      // derived under the WRITER's UTC — the _tspec zone makes the
      // pruning bounds evaluate there, so the files holding the
      // in-range instants survive pruning. Before the fix this query
      // pruned them away and returned empty.
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val (lo, hi) = ("2024-03-02 00:00:00", "2024-03-02 01:59:59")
      val expect = Versioned.read(spark, t)
        .filter(col("ts") >= lo && col("ts") <= hi)
        .select("id").collect().map(_.getInt(0)).sorted.toSeq
      assert(expect == Seq(32, 33)) // 08:15Z and 09:15Z on day 2
      val got = Versioned.readWhere(spark, t, "ts", lo, hi)
      assert(got.select("id").collect().map(_.getInt(0)).sorted.toSeq
        == expect)
      // the cross-zone path still prunes (bounds widened one hour each
      // side for DST edges — a handful of the 72 hour partitions)
      assert(scanned(got) < full)
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }

  test("versioned table: applyChanges lands a CDC batch as one commit") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_cdc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit((1 to 800).map(i => (i, i * 10)).toDF("id", "x")
      .repartitionByRange(4, col("id")), t, statsCols = Seq("id"))
    // upsert key 42 + delete key 700, atomically: exactly ONE version
    val v2 = Versioned.applyChanges(spark, t,
      upserts = Seq((42, -1)).toDF("id", "x"),
      deleteKeys = Seq(700).toDF("id"), key = "id")
    assert(v2 == 2 && Versioned.versions(spark, t) == Seq(1, 2))
    val cur = Versioned.read(spark, t)
    assert(cur.count() == 799)
    assert(cur.filter(col("id") === 42).select("x")
      .collect().map(_.getInt(0)).toSeq == Seq(-1))
    assert(cur.filter(col("id") === 700).count() == 0)
    assert(Versioned.read(spark, t, Some(1)).count() == 800)
    // the one commit carries BOTH the rewrite and the tombstone, with
    // the three untouched files linked — and the tombstone's key file
    // is never double-counted as data (4 data files exactly: 3 linked
    // + 1 rewrite)
    val fl = Versioned.files(spark, t, Some(2)).collect()
    assert(fl.count(_.getString(4) == "delete") == 1)
    assert(fl.count(_.getString(4) == "data") == 4)
    assert(fl.count(r => r.getString(4) == "data" && r.getBoolean(3)) == 3)
    assert(Versioned.dataFileCount(spark, t) == 4)
    // binpack over a data+tombstone version must not pack tombstone
    // keys back in as data rows
    Versioned.compactSmall(spark, t, minFileBytes = 1024 * 1024)
    val packedCur = Versioned.read(spark, t)
    assert(packedCur.count() == 799)
    assert(packedCur.filter(col("id") === 700).count() == 0)
    // one key, one op per batch
    intercept[IllegalArgumentException] {
      Versioned.applyChanges(spark, t,
        upserts = Seq((5, 0)).toDF("id", "x"),
        deleteKeys = Seq(5).toDF("id"), key = "id")
    }
  }

  test("dataFileCount skips a tombstone writer's in-flight attempt files") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_tomb_attempt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit((1 to 100).map(i => (i, i * 10)).toDF("id", "x")
      .repartitionByRange(2, col("id")), t)
    // one commit with its own data dir AND a tombstone dir
    val v = Versioned.applyChanges(spark, t,
      upserts = Seq((42, -1)).toDF("id", "x"),
      deleteKeys = Seq(70).toDF("id"), key = "id")
    val deletes = new java.io.File(s"$t/v=$v/_deletes")
    assert(deletes.isDirectory)
    val before = Versioned.dataFileCount(spark, t)
    // what Spark's file committer leaves while a tombstone job runs
    val attempt = new java.io.File(deletes, "_temporary/0/part-0.parquet")
    attempt.getParentFile.mkdirs()
    java.nio.file.Files.write(attempt.toPath, Array[Byte](1, 2, 3))
    assert(Versioned.dataFileCount(spark, t) == before)
  }

  test("versioned table: readAsOf resolves snapshots by publish time") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_asof"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t)
    Thread.sleep(60) // distinct marker mtimes at ms resolution
    Versioned.append(Seq((2, "b")).toDF("id", "v"), t)
    Thread.sleep(60)
    Versioned.append(Seq((3, "c")).toDF("id", "v"), t)
    val times = Versioned.history(spark, t).orderBy("version")
      .collect().map(_.getTimestamp(1).getTime)
    assert(Versioned.readAsOf(spark, t, times(0)).count() == 1)
    assert(Versioned.readAsOf(spark, t, times(1)).count() == 2)
    assert(Versioned.readAsOf(spark, t,
      System.currentTimeMillis()).count() == 3)
    // a time before the first snapshot is refused, not misanswered
    intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, t, times(0) - 10000)
    }
  }

  test("versioned table: asOf refuses expired gaps; binpack survives full tombstoning") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_asof_gap"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t)
    Thread.sleep(60)
    Versioned.append(Seq((2, "b")).toDF("id", "v"), t)
    Thread.sleep(60)
    Versioned.append(Seq((3, "c")).toDF("id", "v"), t)
    val hist = Versioned.history(spark, t).orderBy("version").collect()
    val t1 = hist(0).getTimestamp(1).getTime
    val t2 = hist(1).getTimestamp(1).getTime
    Versioned.tag(spark, t, "pin", Some(1))
    Versioned.vacuum(spark, t, keep = 1)
    assert(Versioned.versions(spark, t) == Seq(1, 3))
    // exactly v1's publish instant still answers v1...
    assert(Versioned.readAsOf(spark, t, t1).count() == 1)
    // ...and so does a time inside the gap but BEFORE the expired
    // v2's publish instant: vacuum logged v2's instant, so the gap
    // resolves EXACTLY — the state at t1+1 demonstrably WAS v1
    assert(Versioned.readAsOf(spark, t, t1 + 1).count() == 1)
    // at/after v2's publish instant the state is expired — refused,
    // never silently answered with v1's stale content
    intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, t, t2)
    }
    intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, t, t2 + 1)
    }
    assert(Versioned.readAsOf(spark, t,
      System.currentTimeMillis()).count() == 3)
    // a pre-log table (no _expired.tsv) degrades to the conservative
    // refusal of everything past v1's own publish instant
    assert(new java.io.File(s"$t/_expired.tsv").delete())
    assert(Versioned.readAsOf(spark, t, t1).count() == 1)
    intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, t, t1 + 1)
    }
    // a crashed re-tag's duplicate resolves to the newest pin
    val f = new java.io.File(s"$t/_tag_dup=1")
    f.createNewFile()
    f.setLastModified(System.currentTimeMillis() - 60000)
    new java.io.File(s"$t/_tag_dup=3").createNewFile()
    assert(Versioned.tags(spark, t)("dup") == 3)
    Versioned.dropTag(spark, t, "dup")
    assert(!Versioned.tags(spark, t).contains("dup"))
    // binpack over a table whose every row is tombstoned publishes a
    // READABLE empty snapshot, not a file-less scan root
    val tb = s"$work/versioned_pack_all_deleted"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tb))
    Versioned.commit((1 to 10).map(i => (i, if (i <= 5) "a" else "b"))
      .toDF("id", "p").repartition(4), tb, partitionCol = Some("p"))
    Versioned.deleteRows(spark, tb, (1 to 10).toDF("id"))
    Versioned.compactSmall(spark, tb, minFileBytes = 1024 * 1024,
      partitionCol = Some("p"))
    assert(Versioned.read(spark, tb).count() == 0)
    assert(Versioned.read(spark, tb).columns.toSeq == Seq("id", "p"))
  }

  test("versioned table: tags pin versions through vacuum") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_tags"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t)
    Versioned.append(Seq((2, "b")).toDF("id", "v"), t)
    Versioned.append(Seq((3, "c")).toDF("id", "v"), t)
    Versioned.tag(spark, t, "golden", Some(1))
    assert(Versioned.tags(spark, t) == Map("golden" -> 1))
    // vacuum keep=1 would expire v1 and v2 — the tag pins v1
    Versioned.vacuum(spark, t, keep = 1)
    assert(Versioned.versions(spark, t) == Seq(1, 3))
    assert(Versioned.readTag(spark, t, "golden").count() == 1)
    assert(Versioned.read(spark, t).count() == 3)
    // re-tagging moves the pointer; dropping unpins
    Versioned.tag(spark, t, "golden", Some(3))
    assert(Versioned.tags(spark, t) == Map("golden" -> 3))
    // an immediate re-tag BACK to a lower version wins on the pin
    // sequence even when both pins land in the same millisecond (an
    // mtime-only tie-break resolved to the higher version number)
    Versioned.tag(spark, t, "golden", Some(1))
    assert(Versioned.tags(spark, t) == Map("golden" -> 1))
    Versioned.dropTag(spark, t, "golden")
    Versioned.vacuum(spark, t, keep = 1)
    assert(Versioned.versions(spark, t) == Seq(3))
    assert(Versioned.read(spark, t).count() == 3)
    // tagging an unretained version is refused
    intercept[IllegalArgumentException] {
      Versioned.tag(spark, t, "gone", Some(2))
    }
  }

  test("versioned table: SQL time travel via per-version views") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_sql_tt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), t)
    Versioned.append(Seq((3, "c")).toDF("id", "v"), t)
    Versioned.deleteRows(spark, t, Seq(2).toDF("id"))
    val vs = Versioned.registerVersions(spark, t, "tt_spec")
    assert(vs == Seq(1, 2, 3))
    assert(spark.sql("SELECT count(*) FROM tt_spec_v1")
      .head().getLong(0) == 2)
    assert(spark.sql("SELECT id FROM tt_spec_v2 ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // the v3 view applies the merge-on-read tombstone, as does current
    assert(spark.sql("SELECT id FROM tt_spec_v3 ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
    assert(spark.sql(
      """SELECT count(*) FROM tt_spec_v2 a JOIN tt_spec USING (id)""")
      .head().getLong(0) == 2)
    intercept[IllegalArgumentException] {
      Versioned.registerVersions(spark, t, "bad-name;drop")
    }
  }

  test("versioned table: renameColumn is metadata-only and never nulls") {
    import spark.implicits._
    import graft.sources.Versioned
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val t = s"$work/versioned_rename"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), t,
      statsCols = Seq("id"))
    Versioned.append(Seq((3, "c")).toDF("id", "v"), t)
    def dataState() = Files.walk(Paths.get(t)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString -> (Files.getLastModifiedTime(p),
        Files.size(p))).toMap
    val before = dataState()
    assert(Versioned.renameColumn(spark, t, "id", "ident") == 3)
    // METADATA-ONLY: not one data file touched
    assert(dataState() == before)
    // values resolve under the new name — never a nulled column
    assert(Versioned.read(spark, t).columns.toSeq == Seq("ident", "v"))
    assert(Versioned.read(spark, t).select("ident").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    // old snapshots keep the schema they were written with
    assert(Versioned.read(spark, t, Some(2)).columns.toSeq ==
      Seq("id", "v"))
    // appends after the rename mix old- and new-name files in one scan
    Versioned.append(Seq((4, "d")).toDF("ident", "v"), t)
    assert(Versioned.read(spark, t).select("ident").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3, 4))
    // copy-on-write merges rewrite across the rename boundary
    Versioned.upsert(spark, t, Seq((2, "B")).toDF("ident", "v"), "ident")
    assert(Versioned.read(spark, t).filter(col("ident") === 2)
      .select("v").head().getString(0) == "B")
    // merge-on-read tombstones keyed by the NEW name delete rows that
    // live in OLD-name files
    Versioned.deleteRows(spark, t, Seq(1).toDF("ident"))
    assert(Versioned.read(spark, t).select("ident").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4))
    // pruned reads filter correctly on the renamed column (stats under
    // the old name degrade to a scan, never mis-prune)
    assert(Versioned.readWhere(spark, t, "ident", 3, 4)
      .select("ident").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(3, 4))
    // renames CHAIN
    assert(Versioned.renameColumn(spark, t, "ident", "id2") == 7)
    assert(Versioned.read(spark, t).select("id2").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4))
    // the SQL catalog sees the renamed schema
    val abs = new java.io.File(t).getAbsolutePath
    assert(spark.table(s"graft.`$abs`").columns.toSeq == Seq("id2", "v"))
    // vacuum pins the rename steps while old-name files are linked
    Versioned.vacuum(spark, t, keep = 1)
    assert(Versioned.read(spark, t).select("id2").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4))
    // compact materializes current names; reads unchanged
    Versioned.compact(spark, t)
    assert(Versioned.read(spark, t).select("id2").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4))
    // guardrails
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, t, "missing", "x")
    }
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, t, "id2", "v")
    }
  }

  test("versioned table: compactDeletes rewrites only tombstoned files") {
    import spark.implicits._
    import graft.sources.Versioned
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val t = s"$work/versioned_compact_deletes"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // four exact hive partitions -> four files: b=0 holds seq 1-25, ...
    Versioned.commit((1 to 100).map(i => (i, (i - 1) / 25))
      .toDF("seq", "b").coalesce(1), t, partitionCol = Some("b"))
    def v1State() = Files.walk(Paths.get(s"$t/v=1")).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString -> (Files.getLastModifiedTime(p),
        Files.size(p))).toMap
    val before = v1State()
    Versioned.deleteWhere(spark, t, col("seq").between(1, 10)) // b=0: 40%
    Versioned.deleteWhere(spark, t, col("seq") === 30)         // b=1: 4%
    val oracle = Versioned.read(spark, t).select("seq").collect()
      .map(_.getInt(0)).sorted.toSeq
    def delEntries() = Versioned.files(spark, t).collect()
      .count(_.getString(4) == "delete")
    assert(delEntries() == 2)
    // ratio gate: only the heavily-tombstoned file rewrites; the 4%
    // file keeps carrying its deletion, so both tombstones survive
    assert(Versioned.compactDeletes(spark, t, minDeleteRatio = 0.2,
      partitionCol = Some("b")) == 4)
    assert(Versioned.read(spark, t).select("seq").collect()
      .map(_.getInt(0)).sorted.toSeq == oracle)
    assert(delEntries() == 2)
    // nothing in v=1 was rewritten in place; b=0 left the manifest
    assert(v1State() == before)
    val rels4 = Versioned.files(spark, t).collect()
      .filter(_.getString(4) == "data").map(_.getString(0))
    assert(rels4.count(_.startsWith("v=1/")) == 3)
    assert(rels4.exists(_.startsWith("v=4/")))
    // full sweep: the remaining deletion materializes and every
    // tombstone drops — still NOT a full compact (two v=1 files stay
    // linked byte-identical)
    assert(Versioned.compactDeletes(spark, t,
      partitionCol = Some("b")) == 5)
    assert(delEntries() == 0)
    assert(Versioned.read(spark, t).select("seq").collect()
      .map(_.getInt(0)).sorted.toSeq == oracle)
    val rels5 = Versioned.files(spark, t).collect()
      .filter(_.getString(4) == "data").map(_.getString(0))
    assert(rels5.count(_.startsWith("v=1/")) == 2)
    assert(v1State() == before)
    // history intact
    assert(Versioned.read(spark, t, Some(1)).count() == 100)
    assert(Versioned.read(spark, t, Some(3)).count() == 89)
    // a no-match tombstone collapses metadata-only
    Versioned.deleteRows(spark, t, Seq(999).toDF("seq"))
    assert(delEntries() == 1)
    assert(Versioned.compactDeletes(spark, t) == 7)
    assert(delEntries() == 0)
    assert(Versioned.read(spark, t).count() == 89)
    // idempotent once nothing is left to target
    assert(Versioned.compactDeletes(spark, t) == 7)
  }

  test("versioned table: branches express write-audit-publish") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_branches"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t)
    Versioned.append(Seq((2, "b")).toDF("id", "v"), t)
    // WRITE: two commits staged on a branch
    assert(Versioned.createBranch(spark, t, "staging") == 2)
    Versioned.append(Seq((3, "c")).toDF("id", "v"), t,
      branch = Some("staging"))
    Versioned.append(Seq((4, "d")).toDF("id", "v"), t,
      branch = Some("staging"))
    // staged commits are INVISIBLE to main readers — programmatic and
    // catalog-SQL alike
    assert(Versioned.read(spark, t).select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(Versioned.currentVersion(spark, t) == 2)
    val abs = new java.io.File(t).getAbsolutePath
    assert(spark.sql(s"SELECT count(*) FROM graft.`$abs`")
      .head().getLong(0) == 2)
    // AUDIT: the staged snapshot is readable by branch name
    assert(Versioned.readBranch(spark, t, "staging").count() == 4)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.`$abs` VERSION AS OF 'staging'")
      .head().getLong(0) == 4)
    assert(Versioned.branches(spark, t) ==
      Map("main" -> 2, "staging" -> 4))
    // PUBLISH: metadata-only fast-forward — republishes the staged
    // manifest as a new commit on main (slot-race serialized with any
    // concurrent main committer), so the version advances
    assert(Versioned.fastForward(spark, t, from = "staging") == 5)
    assert(Versioned.read(spark, t).count() == 4)
    assert(Versioned.currentVersion(spark, t) == 5)
    // main keeps advancing past the publish point
    Versioned.append(Seq((5, "e")).toDF("id", "v"), t)
    assert(Versioned.read(spark, t).count() == 5)
    // a DIVERGED branch cannot fast-forward: it would drop main's
    // commit — rollback semantics must be asked for explicitly
    Versioned.createBranch(spark, t, "exp", at = Some(2))
    Versioned.append(Seq((9, "x")).toDF("id", "v"), t,
      branch = Some("exp"))
    intercept[IllegalArgumentException] {
      Versioned.fastForward(spark, t, from = "exp")
    }
    // vacuum pins every branch head (and, via reference counting, the
    // history their manifests reach)
    Versioned.vacuum(spark, t, keep = 1)
    assert(Versioned.readBranch(spark, t, "exp").select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 9))
    assert(Versioned.read(spark, t).count() == 5)
    // timestamp travel follows MAIN lineage, never the exp branch
    assert(Versioned.readAsOf(spark, t,
      System.currentTimeMillis() + 5000).count() == 5)
    // ABANDON: dropping the branch releases its head to vacuum
    Versioned.dropBranch(spark, t, "exp")
    assert(!Versioned.branches(spark, t).contains("exp"))
    intercept[IllegalArgumentException] {
      Versioned.readBranch(spark, t, "exp")
    }
    // a commit to a branch that was never created is refused
    intercept[IllegalArgumentException] {
      Versioned.append(Seq((6, "f")).toDF("id", "v"), t,
        branch = Some("nope"))
    }
  }

  test("versioned table: DSv2 writes land as atomic versioned commits") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_dsv2_write"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val abs = new java.io.File(t).getAbsolutePath
    val g = s"graft.`$abs`"
    // DDL creates v1 (empty, schema-bearing); INSERT INTO appends v2
    spark.sql(s"CREATE TABLE $g (id INT, v STRING)")
    spark.sql(s"INSERT INTO $g VALUES (1, 'a'), (2, 'b')")
    assert(Versioned.currentVersion(spark, t) == 2)
    assert(spark.sql(s"SELECT count(*) FROM $g").head().getLong(0) == 2)
    assert(spark.sql(s"SELECT count(*) FROM $g VERSION AS OF 1")
      .head().getLong(0) == 0)
    // writeTo(...).append() — the DataFrameWriterV2 path — is v3
    Seq((3, "c")).toDF("id", "v").writeTo(g).append()
    assert(Versioned.currentVersion(spark, t) == 3)
    assert(Versioned.read(spark, t).count() == 3)
    // self-referential: the write TARGET stays a relation while the
    // SOURCE's VERSION AS OF pin still expands into a snapshot read
    spark.sql(
      s"INSERT INTO $g SELECT id + 10, v FROM $g VERSION AS OF 2")
    assert(spark.sql(s"SELECT count(*) FROM $g").head().getLong(0) == 5)
    // INSERT OVERWRITE = fresh full snapshot; history retained
    spark.sql(s"INSERT OVERWRITE $g VALUES (9, 'z')")
    assert(spark.sql(s"SELECT id FROM $g").collect()
      .map(_.getInt(0)).toSeq == Seq(9))
    assert(spark.sql(s"SELECT count(*) FROM $g VERSION AS OF 4")
      .head().getLong(0) == 5)
    // createOrReplace publishes ONE new version on the same line —
    // prior snapshots stay time-travelable (Iceberg REPLACE semantics)
    val vBefore = Versioned.currentVersion(spark, t)
    Seq((42L, "w", 1.5)).toDF("id2", "v2", "score").writeTo(g)
      .createOrReplace()
    assert(Versioned.currentVersion(spark, t) == vBefore + 1)
    val out = Versioned.read(spark, t)
    assert(out.columns.toSeq == Seq("id2", "v2", "score"))
    assert(out.head().getLong(0) == 42L)
    assert(spark.sql(s"SELECT count(*) FROM $g VERSION AS OF $vBefore")
      .head().getLong(0) == 1) // the overwritten snapshot, still there
    // CTAS onto a FRESH table via create()
    val t2 = s"$work/versioned_dsv2_ctas"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t2))
    val abs2 = new java.io.File(t2).getAbsolutePath
    spark.range(5).select(col("id"), (col("id") * 2).as("dbl"))
      .writeTo(s"graft.`$abs2`").create()
    assert(Versioned.currentVersion(spark, t2) == 1)
    assert(Versioned.read(spark, t2).count() == 5)
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      spark.range(1).select(col("id")).writeTo(s"graft.`$abs2`").create()
    }
  }

  test("versioned table: concurrent SQL INSERT and programmatic append both land") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_dsv2_race"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val abs = new java.io.File(t).getAbsolutePath
    Versioned.commit(Seq((0, "seed")).toDF("id", "v"), t)
    // a SQL INSERT and a programmatic append race the same version
    // slot; the loser must auto-retry and land on the next one
    val gate = new java.util.concurrent.CyclicBarrier(2)
    var err: Option[Throwable] = None
    val sqlTh = new Thread(() => {
      try { gate.await()
        spark.sql(s"INSERT INTO graft.`$abs` VALUES (1, 'sql')") }
      catch { case e: Throwable => err = Some(e) }
    })
    val apiTh = new Thread(() => {
      try { gate.await()
        Versioned.append(Seq((2, "api")).toDF("id", "v"), t) }
      catch { case e: Throwable => err = Some(e) }
    })
    sqlTh.start(); apiTh.start(); sqlTh.join(); apiTh.join()
    assert(err.isEmpty, s"a racing writer failed: $err")
    assert(Versioned.currentVersion(spark, t) == 3)
    assert(Versioned.read(spark, t).select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2))
  }

  test("versioned table: compactDeletes scans only entries older than its tombstones") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_scoped_cd"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // v1: 20 old rows; v2: tombstone 1 key; v3: 100k NEW rows — the
    // sequence rule proves v3 carries no deletions, so compactDeletes
    // must scan ~20 rows twice, never the 100k slice
    Versioned.commit((1 to 20).map(i => (i, s"r$i")).toDF("id", "v"), t)
    Versioned.deleteRows(spark, t, Seq(7).toDF("id"))
    Versioned.append(spark.range(1000, 101000)
      .select(col("id").cast("int"), lit("new").as("v")), t)
    val r = graft.tools.Metrics.attach(spark)
    try {
      Versioned.compactDeletes(spark, t)
      val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (r.records.isEmpty && System.nanoTime < deadline)
        Thread.sleep(50)
      val scanned = r.records.map(_.scanRows).sum
      assert(scanned < 1000,
        s"compactDeletes scanned $scanned rows; the 100k new slice " +
          "must be pruned by the sequence rule")
    } finally graft.tools.Metrics.detach(spark, r)
    // correctness unchanged: deletion materialized, tombstone dropped
    assert(Versioned.read(spark, t).count() == 100019)
    assert(Versioned.read(spark, t).filter(col("id") === 7).count() == 0)
    assert(Versioned.files(spark, t).collect()
      .forall(_.getString(4) != "delete"))
  }

  test("versioned table: age-based expiry (vacuumOlderThan)") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_age_expiry"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    (1 to 5).foreach { i =>
      if (i == 1) Versioned.commit(Seq((i, s"r$i")).toDF("id", "v"), t)
      else Versioned.append(Seq((i, s"r$i")).toDF("id", "v"), t)
    }
    val day = 86400000L
    val now = System.currentTimeMillis()
    // back-date publish markers: v1-v3 are 8-10 days old, v4 is 1 day
    Seq(1 -> 10, 2 -> 9, 3 -> 8, 4 -> 1).foreach { case (v, d) =>
      assert(new java.io.File(s"$t/_commit_$v")
        .setLastModified(now - d * day))
    }
    Versioned.tag(spark, t, "golden", Some(2))
    // "keep 7 days": v1 and v3 expire; v2 is tag-pinned, v4/v5 young
    Versioned.vacuumOlderThan(spark, t, now - 7 * day)
    assert(Versioned.versions(spark, t) == Seq(2, 4, 5))
    // the pinned snapshot still reads in full (its linked v=1 dir
    // survives the sweep even though v1's marker is gone)
    assert(Versioned.readTag(spark, t, "golden").count() == 2)
    assert(Versioned.read(spark, t).count() == 5)
    // readAsOf refuses instants whose state was an expired version
    intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, t, now - 8 * day + 1000)
    }
    // keepMin floors the sweep even when everything is ancient
    val t2 = s"$work/versioned_age_expiry2"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t2))
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t2)
    Versioned.append(Seq((2, "b")).toDF("id", "v"), t2)
    Versioned.append(Seq((3, "c")).toDF("id", "v"), t2)
    (1 to 3).foreach(v => assert(new java.io.File(s"$t2/_commit_$v")
      .setLastModified(now - 10 * day)))
    Versioned.vacuumOlderThan(spark, t2, now, keepMin = 2)
    assert(Versioned.versions(spark, t2) == Seq(2, 3))
  }

  test("catalog namespaces: CREATE / SHOW / USE / DROP round-trip") {
    import spark.implicits._
    import graft.sources.Versioned
    val nsRoot = new java.io.File(s"$work/catalog_ns_root")
    org.apache.commons.io.FileUtils.deleteQuietly(nsRoot)
    nsRoot.mkdirs()
    spark.conf.set("spark.sql.catalog.graft.root", nsRoot.getAbsolutePath)
    try {
      // namespace DDL needs no out-of-band mkdir
      spark.sql("CREATE NAMESPACE graft.db")
      spark.sql("CREATE NAMESPACE graft.db.inner")
      assert(spark.sql("SHOW NAMESPACES IN graft").collect()
        .map(_.getString(0)).toSet == Set("db"))
      assert(spark.sql("SHOW NAMESPACES IN graft.db").collect()
        .map(_.getString(0)).contains("db.inner"))
      // two-level table under the created namespace
      spark.sql("CREATE TABLE graft.db.t (id INT, v STRING)")
      spark.sql("INSERT INTO graft.db.t VALUES (1, 'a')")
      assert(spark.sql("SELECT count(*) FROM graft.db.t")
        .head().getLong(0) == 1)
      assert(spark.sql("SHOW TABLES IN graft.db").collect()
        .map(_.getString(1)).toSet == Set("t"))
      // a table directory is NOT a namespace
      intercept[Exception] { spark.sql("CREATE NAMESPACE graft.db.t") }
      // RESTRICT refuses a non-empty namespace; CASCADE clears it
      intercept[Exception] { spark.sql("DROP NAMESPACE graft.db") }
      assert(new java.io.File(nsRoot, "db/t").exists())
      spark.sql("DROP NAMESPACE graft.db CASCADE")
      assert(!new java.io.File(nsRoot, "db").exists())
      assert(spark.sql("SHOW NAMESPACES IN graft").collect().isEmpty)
    } finally spark.conf.unset("spark.sql.catalog.graft.root")
  }

  test("versioned table: ALTER TABLE RENAME COLUMN is a metadata-only commit") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_sql_rename"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val abs = new java.io.File(t).getAbsolutePath
    val g = s"graft.`$abs`"
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), t)
    val before = new java.io.File(s"$t/v=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    spark.sql(s"ALTER TABLE $g RENAME COLUMN v TO label")
    // a new metadata-only version: old files untouched, new name served
    assert(Versioned.currentVersion(spark, t) == 2)
    assert(new java.io.File(s"$t/v=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap == before)
    assert(spark.sql(s"SELECT label FROM $g WHERE id = 1")
      .head().getString(0) == "a")
    // old-version reads keep the old name
    assert(spark.sql(s"SELECT * FROM $g VERSION AS OF 1").columns.toSeq
      == Seq("id", "v"))
    // other ALTER kinds still refuse loudly (ADD/DROP COLUMN and safe
    // TYPE widening are supported via the schema-step chain —
    // SchemaEvolutionSpec)
    intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE $g ALTER COLUMN id COMMENT 'nope'")
    }
    // a missing table fails at analysis (Spark resolves before alter)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"ALTER TABLE graft.`$abs-nope` RENAME COLUMN a TO b")
    }
  }

  test("versioned table: incremental changelog matches snapshot diffs") {
    import spark.implicits._
    import graft.sources.Versioned
    import Versioned.{ChangeTypeCol, CommitVersionCol}
    val t = s"$work/versioned_changes"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), t)     // v1
    Versioned.append(Seq((4, "d"), (5, "e")).toDF("id", "v"), t) // v2
    Versioned.applyChanges(spark, t,                             // v3
      upserts = Seq((2, "B2"), (6, "f")).toDF("id", "v"),
      deleteKeys = Seq(3).toDF("id"), key = "id")
    // append-only commit: 2 inserts, nothing else
    val c12 = Versioned.readChanges(spark, t, 1, 2)
    assert(c12.filter(col(ChangeTypeCol) === "insert").count() == 2)
    assert(c12.filter(col(ChangeTypeCol) === "delete").count() == 0)
    // the whole range nets to EXACTLY the diff of the two snapshots:
    // full-row events match read(3) \ read(1) and read(1) \ read(3);
    // the equality tombstone adds its KEY-ONLY channel (v null) on top
    val c13 = Versioned.readChanges(spark, t, 1, 3)
    val ins = c13.filter(col(ChangeTypeCol) === "insert")
      .select("id", "v")
    val delRows = c13.filter(col(ChangeTypeCol) === "delete" &&
      col("v").isNotNull).select("id", "v")
    val r1 = Versioned.read(spark, t, Some(1))
    val r3 = Versioned.read(spark, t, Some(3))
    assert(ins.exceptAll(r3.exceptAll(r1)).isEmpty &&
      r3.exceptAll(r1).exceptAll(ins).isEmpty)
    assert(delRows.exceptAll(r1.exceptAll(r3)).isEmpty)
    assert(c13.filter(col(ChangeTypeCol) === "delete" &&
      col("v").isNull).select("id").collect().map(_.getInt(0)).toSeq
      == Seq(3))
    // REPLAY is exact: prior state minus deleted keys plus inserts
    // reproduces the target snapshot (the key-only tombstone channel
    // covers rows whose file the commit never rewrote)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val delIds = c13.filter(col(ChangeTypeCol) === "delete")
      .select("id").collect().map(_.getInt(0)).toSet
    assert((m(r1) -- delIds) ++ m(ins) == m(r3))
    // every event carries the commit that introduced it
    assert(c13.select(CommitVersionCol).distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    // a metadata-only rename emits nothing; a compact nets to zero —
    // and events after the rename carry the NEW column name
    Versioned.renameColumn(spark, t, "v", "val")                 // v4
    Versioned.compact(spark, t)                                  // v5
    assert(Versioned.readChanges(spark, t, 3, 4).count() == 0)
    assert(Versioned.readChanges(spark, t, 4, 5).count() == 0)
    val c15 = Versioned.readChanges(spark, t, 1, 5)
    assert(c15.columns.contains("val") && !c15.columns.contains("v"))
    assert(c15.filter(col(ChangeTypeCol) === "insert")
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(2, 4, 5, 6))
    // bounds and lineage are validated
    intercept[IllegalArgumentException] {
      Versioned.readChanges(spark, t, 3, 3) }
    intercept[IllegalArgumentException] {
      Versioned.readChanges(spark, t, 0, 99) }
    // vacuum-expired manifests refuse instead of answering partially
    Versioned.vacuum(spark, t, keep = 1)
    intercept[IllegalArgumentException] {
      Versioned.readChanges(spark, t, 1, 5) }
  }

  test("versioned table: recreated branch never revives dropped commits") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_branch_gen"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t)
    // incarnation 1: stage two commits, then ABANDON the audit
    Versioned.createBranch(spark, t, "staging")
    Versioned.append(Seq((2, "bad")).toDF("id", "v"), t,
      branch = Some("staging"))
    Versioned.append(Seq((3, "bad")).toDF("id", "v"), t,
      branch = Some("staging"))
    assert(Versioned.readBranch(spark, t, "staging").count() == 3)
    Versioned.dropBranch(spark, t, "staging")
    // incarnation 2 at the same point, BEFORE any vacuum: the
    // abandoned commits' markers still sit above the new pin with
    // `_ref` sidecars naming 'staging' — the generation fence must
    // keep head resolution from adopting them
    Versioned.createBranch(spark, t, "staging", at = Some(1))
    assert(Versioned.branchHead(spark, t, "staging") == 1,
      "recreated branch resolved through the dropped lineage")
    assert(Versioned.readBranch(spark, t, "staging").count() == 1)
    // the retry proceeds cleanly: a fresh staged commit chains onto
    // the RECREATED head (not the abandoned one) and publishes alone
    Versioned.append(Seq((7, "good")).toDF("id", "v"), t,
      branch = Some("staging"))
    assert(Versioned.readBranch(spark, t, "staging")
      .select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 7))
    Versioned.fastForward(spark, t, from = "staging")
    assert(Versioned.read(spark, t).select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 7))
  }

  test("versioned table: two live re-taggers resolve one deterministic winner") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_tag_race"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t)
    Versioned.append(Seq((2, "b")).toDF("id", "v"), t)
    // two movers re-tag the SAME name to different versions in the
    // same instant, over and over: the nano-salted sequence must give
    // every reader the same winner each round (the old max+1 sequence
    // could tie and fall back to the ms-granularity mtime draw)
    for (_ <- 1 to 10) {
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val moves = Seq(1, 2).map { v =>
        val th = new Thread(() => { gate.await(); Versioned.tag(spark, t, "golden", Some(v)) })
        th.start(); th
      }
      moves.foreach(_.join())
      val first = Versioned.tags(spark, t)("golden")
      // stable across repeated independent listings
      (1 to 5).foreach { _ =>
        assert(Versioned.tags(spark, t)("golden") == first) }
      assert(Versioned.readTag(spark, t, "golden").count() == first)
      // and a quiet re-tag afterwards still moves the name (monotone)
      Versioned.tag(spark, t, "golden", Some(3 - first))
      assert(Versioned.tags(spark, t)("golden") == 3 - first)
    }
  }

  test("versioned table: renames and expired history stay per-lineage") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_branch_lineage"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a")).toDF("id", "v"), t)
    Versioned.append(Seq((2, "b")).toDF("id", "v"), t) // v2
    Versioned.createBranch(spark, t, "staging")
    Versioned.renameColumn(spark, t, "id", "ident") // v3, on MAIN
    Versioned.append(Seq((3, "c")).toDF("id", "v"), t,
      branch = Some("staging")) // v4, still old names
    // the main-side rename does NOT restyle the diverged branch: its
    // snapshots keep one coherent schema, values never split
    assert(Versioned.readBranch(spark, t, "staging").columns.toSeq ==
      Seq("id", "v"))
    assert(Versioned.readBranch(spark, t, "staging").select("id")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    assert(Versioned.read(spark, t).columns.toSeq == Seq("ident", "v"))
    // expired FOREIGN-branch commits inside a main gap never shadow
    // main's state: spread the publish instants, expire v4 (staging),
    // then travel to a time between v4's and v5's publishes
    Versioned.append(Seq((9, "z")).toDF("ident", "v"), t) // v5, main
    Versioned.dropBranch(spark, t, "staging")
    val base = System.currentTimeMillis() - 100000
    (1 to 5).foreach { k =>
      assert(new java.io.File(s"$t/_commit_$k")
        .setLastModified(base + k * 10000L))
    }
    Versioned.tag(spark, t, "pin", Some(3))
    Versioned.vacuum(spark, t, keep = 1) // expires 1, 2, 4
    assert(Versioned.versions(spark, t) == Seq(3, 5))
    // main's state at that instant WAS v3 — the expired staging commit
    // between them was never on main's lineage
    assert(Versioned.readAsOf(spark, t, base + 45000L)
      .select("ident").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 2))
    // expired MAIN history still refuses: the state is unknowable
    intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, t, base + 25000L)
    }
  }

  test("versioned table: DSv2 catalog resolves snapshots natively in SQL") {
    import spark.implicits._
    import graft.sources.Versioned
    val ns = new java.io.File(s"$work/catalog_ns")
    org.apache.commons.io.FileUtils.deleteQuietly(ns)
    val t = new java.io.File(ns, "tbl").getAbsolutePath
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), t)
    Versioned.append(Seq((3, "c")).toDF("id", "v"), t)
    val g = s"graft.`$t`"
    // plain SQL + native VERSION AS OF, with NO prior registration
    assert(spark.sql(s"SELECT count(*) FROM $g").head().getLong(0) == 3)
    assert(spark.sql(s"SELECT id FROM $g VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // a post-commit read resolves the NEW version with no
    // re-registration — the staleness registerVersions' views carry
    Versioned.append(Seq((4, "d")).toDF("id", "v"), t)
    assert(spark.table(s"graft.`$t`").count() == 4)
    // merge-on-read tombstones and tags travel through the catalog
    Versioned.deleteRows(spark, t, Seq(2).toDF("id"))
    assert(spark.sql(s"SELECT id FROM $g ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3, 4))
    Versioned.tag(spark, t, "pre_delete", Some(3))
    assert(spark.sql(
      s"SELECT count(*) FROM $g VERSION AS OF 'pre_delete'")
      .head().getLong(0) == 4)
    // TIMESTAMP AS OF now = the current snapshot (session tz is UTC)
    val now = java.time.LocalDateTime
      .ofInstant(java.time.Instant.now().plusSeconds(1),
        java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
    assert(spark.sql(s"SELECT count(*) FROM $g TIMESTAMP AS OF '$now'")
      .head().getLong(0) == 3)
    // cross-version self-join: each pin reads its own snapshot
    assert(spark.sql(
      s"""SELECT count(*) FROM $g VERSION AS OF 2 a
          JOIN $g VERSION AS OF 1 b USING (id)""").head().getLong(0) == 2)
    // the analyzer rewrite hands Catalyst a declarative plan: the
    // filter still reaches the parquet scan
    val phys = spark.sql(s"SELECT id FROM $g WHERE id = 3")
      .queryExecution.executedPlan.toString
    assert(phys.contains("EqualTo(id,3)"), phys.take(2000))
    // root-relative names + SQL DDL
    spark.conf.set("spark.sql.catalog.graft.root", ns.getAbsolutePath)
    try {
      assert(spark.sql("SELECT count(*) FROM graft.tbl")
        .head().getLong(0) == 3)
      spark.sql("CREATE TABLE graft.fresh (k INT, s STRING)")
      Versioned.append(Seq((7, "x")).toDF("k", "s"),
        new java.io.File(ns, "fresh").getAbsolutePath)
      assert(spark.table("graft.fresh").count() == 1)
      // PARTITIONED BY declares the table's default spec (bare column
      // = identity) — the empty create publishes a READABLE v=1 and
      // the next INSERT inherits the layout (DdlPartitionSpec covers
      // the full surface)
      spark.sql(
        "CREATE TABLE graft.parted (k INT, s STRING) PARTITIONED BY (k)")
      val partedDir = new java.io.File(ns, "parted").getAbsolutePath
      assert(Versioned.currentTransform(spark, partedDir)
        .contains(Versioned.Transform.Identity("k")))
      assert(spark.table("graft.parted").count() == 0)
      spark.sql("INSERT INTO graft.parted VALUES (5, 'p')")
      assert(new java.io.File(s"$partedDir/v=2/gpart_id_k=5").isDirectory)
      assert(spark.table("graft.parted").columns.toSeq == Seq("k", "s"))
      assert(spark.sql("SHOW TABLES IN graft").collect()
        .map(_.getString(1)).toSet == Set("tbl", "fresh", "parted"))
      spark.sql("DROP TABLE graft.parted")
      spark.sql("DROP TABLE graft.fresh")
      assert(!new java.io.File(ns, "fresh").exists())
    } finally spark.conf.unset("spark.sql.catalog.graft.root")
    // hidden-transform tables keep their derived column hidden in SQL
    val tp = new java.io.File(ns, "tp").getAbsolutePath
    Versioned.commit(
      Seq((1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
        (2, java.sql.Timestamp.valueOf("2024-01-02 10:00:00")))
        .toDF("id", "ts"),
      tp, transform = Some(Versioned.Transform.Days("ts")))
    assert(spark.table(s"graft.`$tp`").columns.toSeq == Seq("id", "ts"))
    // a missing table fails analysis loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft.`$t-missing`").collect()
    }
  }

  test("versioned table: rollback republishes an old snapshot, keeps history") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_rollback"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), t)
    Versioned.append(Seq((3, "c")).toDF("id", "v"), t)
    Versioned.delete(spark, t, col("id") === 2)
    assert(Versioned.read(spark, t).select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    // undo the delete: v4's content is v2's again, v3 stays readable
    val v4 = Versioned.rollback(spark, t, 2, note = Some("undo delete"))
    assert(v4 == 4)
    assert(Versioned.read(spark, t).select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    assert(Versioned.read(spark, t, Some(3)).select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    assert(Versioned.commitNotes(spark, t)(4) == "undo delete")
    // the rollback wrote no data of its own: v=4 holds zero data files
    assert(Versioned.files(spark, t).collect()
      .forall(!_.getString(0).startsWith("v=4/")))
    // expiring history keeps the dirs v4's manifest still links
    Versioned.vacuum(spark, t, keep = 1)
    assert(Versioned.read(spark, t).select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    // rollback to an expired version is refused, not silently wrong
    intercept[IllegalArgumentException] {
      Versioned.rollback(spark, t, 3)
    }
  }

  test("versioned table: file entries keep their version's stats pruning") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_filestats"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit((1 to 800).map(i => (i, i * 10)).toDF("id", "x")
      .repartitionByRange(8, col("id")), t, statsCols = Seq("id"))
    // the merge fragments v=1 into FILE entries in v=2's manifest
    Versioned.upsert(spark, t, Seq((42, -1)).toDF("id", "x"), "id")
    val rw = Versioned.readWhere(spark, t, "id", 700, 710)
    // pruned: of the 7 surviving v=1 file entries only the 700-range
    // file scans (the statless v=2 rewrite scans in full — degrade,
    // never lie)
    assert(rw.inputFiles.length < Versioned.read(spark, t)
      .inputFiles.length)
    // range-partition boundaries are sample-approximate: the 11-key
    // range lives in 1 file, or 2 when it straddles a boundary —
    // never the 7 survivors
    assert(rw.inputFiles.count(_.contains("/v=1/")) <= 2)
    assert(rw.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      (700 to 710))
  }

  test("versioned table: binpack compaction rewrites only small files") {
    import spark.implicits._
    import graft.sources.Versioned
    import java.nio.file.{Files, Paths}
    val t = s"$work/versioned_binpack"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // one right-sized file, then a drip of tiny appends
    Versioned.commit((1 to 400).map(i => (i, s"row$i")).toDF("id", "v")
      .coalesce(1), t)
    (401 to 403).foreach(i =>
      Versioned.append(Seq((i, s"row$i")).toDF("id", "v"), t))
    assert(Versioned.dataFileCount(spark, t) == 4)
    val bigFile = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(s"$t/v=1")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
    }
    val bigBytes = Files.readAllBytes(bigFile).toSeq
    val v5 = Versioned.compactSmall(spark, t,
      minFileBytes = Files.size(bigFile))
    assert(v5 == 5)
    // the right-sized file is linked byte-identical, tinies packed
    assert(Files.readAllBytes(bigFile).toSeq == bigBytes)
    assert(Versioned.dataFileCount(spark, t) == 2)
    val fl = Versioned.files(spark, t).collect()
    assert(fl.count(_.getBoolean(3)) == 1) // one linked (the big file)
    assert(Versioned.read(spark, t).count() == 403)
    assert(Versioned.read(spark, t, Some(1)).count() == 400)
    // nothing under the floor -> no new version published
    assert(Versioned.compactSmall(spark, t, minFileBytes = 1) == 5)
  }

  test("versioned table: binpack keeps partition layout and stats pruning") {
    import spark.implicits._
    import graft.sources.Versioned
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val t = s"$work/versioned_binpack_layout"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // partitioned, stats-carrying table built from a drip of appends:
    // k correlates with the partition (a: 1-200, b: 201-400)
    def batch(r: Range) = r.map(k =>
      (k, if (k <= 200) "a" else "b")).toDF("k", "p")
    Versioned.commit(batch(1 to 100), t, partitionCol = Some("p"),
      statsCols = Seq("k"))
    Seq(101 to 200, 201 to 300, 301 to 400).foreach(r =>
      Versioned.append(batch(r), t, partitionCol = Some("p"),
        statsCols = Seq("k")))
    val bytes = Files.walk(Paths.get(t)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        !p.toString.contains("_stats")).map(Files.size).sum
    // pack everything into ~4 outputs, keeping layout and stats
    val vN = Versioned.compactSmall(spark, t,
      targetFileBytes = math.max(1L, bytes / 4), minFileBytes = bytes,
      statsCols = Seq("k"), partitionCol = Some("p"))
    assert(vN == 5)
    val all = Versioned.read(spark, t)
    assert(all.count() == 400)
    // packed files land under hive partition dirs: the partition filter
    // is a PartitionFilters entry, not a post-scan Filter
    val plan = all.filter(col("p") === "b")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("(p#"))
    assert(all.filter(col("p") === "b").count() == 200)
    // ...and the fresh sidecar still prunes packed files by key range
    val rw = Versioned.readWhere(spark, t, "k", 10, 20)
    assert(rw.inputFiles.length < all.inputFiles.length,
      s"expected stats pruning after binpack: ${rw.inputFiles.length} " +
        s"vs ${all.inputFiles.length}")
    assert(rw.select("k").collect().map(_.getInt(0)).sorted.toSeq ==
      (10 to 20))
  }

  test("versioned table: unreadable stats degrade to scan, never prune") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_stale_stats"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val rows = (0 until 96).map(h =>
      (h, java.sql.Timestamp.valueOf(f"2024-03-10 ${h / 4}%02d:00:00")))
    Versioned.commit(rows.toDF("id", "ts")
      .repartitionByRange(4, col("ts")), t, statsCols = Seq("ts"))
    // sabotage the sidecar into a pre-epoch-micros local-time format:
    // the long cast fails, which must KEEP the files (full scan), not
    // silently conflate with the all-null prune case
    locally {
      import scala.jdk.CollectionConverters._
      val statsFile = java.nio.file.Paths.get(s"$t/v=1/_stats.tsv")
      def enc(v: String) = java.net.URLEncoder.encode(v, "UTF-8")
      val stale = java.nio.file.Files.readAllLines(statsFile).asScala
        .map { line =>
          val fs = line.split("\t", -1)
          Seq(fs(0), fs(1), fs(2),
            enc("2024-03-10 00:00:00"), enc("2024-03-10 23:00:00"))
            .mkString("\t")
        }
      java.nio.file.Files.write(statsFile,
        stale.mkString("\n").getBytes("UTF-8"))
      // the rewrite bypassed Hadoop's LocalFS: drop its stale checksum
      // sidecar or the read degrades for the wrong reason
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$t/v=1/._stats.tsv.crc"))
    }
    val lo = "2024-03-10 06:00:00"
    val hi = "2024-03-10 08:00:00"
    val want = Versioned.read(spark, t)
      .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    val got = Versioned.readWhere(spark, t, "ts", lo, hi)
    assert(got.select("id").collect().map(_.getInt(0)).sorted.toSeq
      == want && want.nonEmpty)
    // every file scans (degraded), none wrongly pruned
    assert(got.inputFiles.length ==
      Versioned.read(spark, t).inputFiles.length)
  }

  test("versioned table: history and files metadata tables") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_meta"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), t,
      note = Some("initial"))
    Versioned.append(Seq((3, "c")).toDF("id", "v"), t)
    Versioned.upsert(spark, t, Seq((2, "B")).toDF("id", "v"), "id")
    val h = Versioned.history(spark, t).orderBy("version").collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(h.head.getString(2) == "initial")
    // v1 is self-contained; v2 (append) and v3 (merge) link history
    assert(!h(0).getBoolean(4) && h(1).getBoolean(4) && h(2).getBoolean(4))
    assert(h.map(_.getTimestamp(1).getTime).toSeq.sorted ==
      h.map(_.getTimestamp(1).getTime).toSeq)
    // files: inventory matches dataFileCount, sizes are real, and the
    // current version distinguishes its own files from linked ones
    val fl = Versioned.files(spark, t).collect()
    assert(fl.length == Versioned.dataFileCount(spark, t))
    assert(fl.forall(_.getLong(1) > 0))
    val (linked, own) = fl.partition(_.getBoolean(3))
    assert(own.nonEmpty && own.forall(_.getString(0).startsWith("v=3/")))
    assert(linked.nonEmpty &&
      linked.forall(!_.getString(0).startsWith("v=3/")))
    // after compact the snapshot is self-contained again
    Versioned.compact(spark, t)
    assert(Versioned.files(spark, t).collect().forall(!_.getBoolean(3)))
    assert(!Versioned.history(spark, t)
      .orderBy(col("version").desc).head().getBoolean(4))
    // —— SQL addressing: `<table>.history` / `<table>.files` resolve
    //    as metadata tables of the parent (Iceberg metadata-table
    //    syntax), including the absolute-path ident shape ——
    val abs = new java.io.File(t).getAbsolutePath
    val hs = spark.sql(
      s"SELECT version, note FROM graft.`$abs`.history ORDER BY version")
      .collect()
    assert(hs.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    assert(hs.head.getString(1) == "initial")
    val fs = spark.sql(s"SELECT file, kind FROM graft.`$abs`.files")
      .collect()
    assert(fs.length == Versioned.dataFileCount(spark, t))
    assert(fs.forall(_.getString(1) == "data"))
    // a version pin on .files inspects an OLD snapshot's inventory
    assert(spark.sql(
      s"SELECT count(*) FROM graft.`$abs`.files VERSION AS OF 1")
      .head().getLong(0) ==
      Versioned.dataFileCount(spark, t, Some(1)).toLong)
    // writes to a metadata table refuse (no write capability)
    intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$abs`.history VALUES (9)")
    }
    // a MISSING parent still reports no-such-table
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft.`$abs-none`.history")
    }
  }

  test("versioned table: concurrent committers race cleanly on the marker") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_race"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq(0).toDF("v"), t)
    // Both committers observe version 1 and race to publish version 2:
    // the marker's atomic create-no-overwrite must let exactly one win.
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val results = (1 to 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Int]] {
        def call(): Either[Throwable, Int] = {
          gate.await()
          try Right(Versioned.commit(Seq(i).toDF("v"), t))
          catch { case e: Throwable => Left(e) }
        }
      })
    }
    gate.countDown()
    val outcomes = results.map(_.get())
    pool.shutdown()
    val winners = outcomes.collect { case Right(v) => v }
    // In the rare interleaving where the loser observes the winner's
    // marker before writing, both commits succeed at DIFFERENT versions;
    // what must never happen is two committers publishing the same one.
    assert(winners.nonEmpty && winners.distinct.length == winners.length)
    // the table is consistent: every published version readable, and no
    // loser's staging data nested inside a published snapshot (the
    // LocalFS rename-into-existing-dir hazard)
    Versioned.versions(spark, t).foreach { v =>
      assert(Versioned.read(spark, t, Some(v)).count() == 1)
      val sub = new java.io.File(s"$t/v=$v").listFiles()
      assert(!sub.exists(_.getName.startsWith(".stage-")),
        s"foreign staging dir nested in v=$v")
    }
    // clean losers raced at the claim, not at the marker
    outcomes.collect { case Left(e) => e }.foreach { e =>
      assert(e.getMessage.contains("concurrent commit raced"), e.toString)
    }
  }

  test("versioned table: stream watermarks are scoped, swept, and max-wins") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_watermarks"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq(1).toDF("v"), t)
    Versioned.recordApplied(spark, t, "events", 3)
    // underscore inside a stream id must not bleed into another stream
    Versioned.recordApplied(spark, t, "events_2", 9)
    assert(Versioned.lastApplied(spark, t, "events").contains(3L))
    assert(Versioned.lastApplied(spark, t, "events_2").contains(9L))
    assert(Versioned.lastApplied(spark, t, "other").isEmpty)
    // monotone advance sweeps older watermarks down to one per stream
    Versioned.recordApplied(spark, t, "events", 7)
    assert(Versioned.lastApplied(spark, t, "events").contains(7L))
    val files = new java.io.File(t).listFiles()
      .count(_.getName.startsWith("_applied_events="))
    assert(files == 1)
    // idempotent re-record is a no-op
    Versioned.recordApplied(spark, t, "events", 7)
    assert(Versioned.lastApplied(spark, t, "events").contains(7L))
  }

  test("versioned table: stale unpublished claim is reclaimed, fresh is not") {
    import spark.implicits._
    import graft.sources.Versioned
    import org.apache.hadoop.fs.Path
    val t = s"$work/versioned_debris"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq(1).toDF("v"), t)
    // simulate a committer that crashed between rename and marker: an
    // unpublished, NON-empty v=2 directory with its owner token (an
    // empty dir would be atomically replaced by rename, which is fine)
    val f = new Path(t).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Seq(99).toDF("v").write.parquet(s"$t/v=2")
    f.create(new Path(t, "v=2/_owner_crashed"), false).close()
    // ...fresh debris blocks the slot (could be a live committer)
    intercept[IllegalStateException] {
      Versioned.commit(Seq(2).toDF("v"), t)
    }
    // ...but past the grace period it is reclaimed automatically (the
    // age gate reads the owner token's mtime — dir mtimes are refreshed
    // by nest attempts)
    f.setTimes(new Path(t, "v=2/_owner_crashed"),
      System.currentTimeMillis() - Versioned.ReclaimGraceMs - 1000, -1)
    assert(Versioned.commit(Seq(2).toDF("v"), t) == 2)
    assert(Versioned.read(spark, t).collect().map(_.getInt(0)).toSeq
      == Seq(2))
  }

  test("versioned table: compact rewrites small files, keeps history") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_compact"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // drip-fed snapshot: 16 tiny files
    Versioned.commit((1 to 1000).toDF("v").repartition(16), t)
    assert(Versioned.dataFileCount(spark, t) == 16)
    val v2 = Versioned.compact(spark, t) // default target >> snapshot size
    assert(v2 == 2)
    // same rows, one file
    assert(Versioned.dataFileCount(spark, t) == 1)
    assert(Versioned.read(spark, t).collect().map(_.getInt(0)).sorted
      .toSeq == (1 to 1000))
    // pre-compaction snapshot still time-travelable until vacuum
    assert(Versioned.read(spark, t, Some(1)).count() == 1000)
    assert(Versioned.dataFileCount(spark, t, Some(1)) == 16)
  }

  test("versioned table: schema evolves per snapshot, time travel keeps old") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_schema"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "name"), t)
    Versioned.commit(
      Seq((1, "a", 0.5), (2, "b", 0.7)).toDF("id", "name", "score"), t)
    // current snapshot carries the evolved schema...
    assert(Versioned.read(spark, t).columns.toSeq ==
      Seq("id", "name", "score"))
    // ...while time travel sees the schema as of that snapshot
    assert(Versioned.read(spark, t, Some(1)).columns.toSeq ==
      Seq("id", "name"))
  }

  test("versioned table: partitioned append chain reads, prunes, travels") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_part_chain"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // the reference's own layout: a hive-partitioned table receiving
    // snapshot commits (csv_to_ice.py:54,58) — r5's multi-root fast
    // path crashed here with CONFLICTING_DIRECTORY_STRUCTURES
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "p"), t,
      partitionCol = Some("p"))
    Versioned.append(Seq((3, "a"), (4, "c")).toDF("id", "p"), t,
      partitionCol = Some("p"))
    Versioned.append(Seq((5, "b")).toDF("id", "p"), t,
      partitionCol = Some("p"))
    val all = Versioned.read(spark, t)
    assert(all.count() == 5)
    assert(all.select("id").collect().map(_.getInt(0)).sorted.toSeq
      == (1 to 5))
    // partition values survive the per-root basePath stitch
    assert(all.filter(col("p") === "a").select("id").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    // the partition filter reaches every root's scan as a
    // PartitionFilters entry, not a post-scan Filter
    val plan = all.filter(col("p") === "a")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("(p#"))
    // time travel sees each snapshot exactly
    assert(Versioned.read(spark, t, Some(1)).count() == 2)
    assert(Versioned.read(spark, t, Some(2)).count() == 4)
  }

  test("versioned table: days() transform hides its column, prunes partitions") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_transform_days"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    def batch(r: Range) = r.map(h =>
      (h, java.sql.Timestamp.valueOf(
        f"2024-06-${1 + h / 24}%02d ${h % 24}%02d:00:00"))).toDF("id", "ts")
    // chain over days(ts): the caller never materializes a day column
    // (the papercut the reference hand-codes in csv_to_ice.py:25)
    Versioned.commit(batch(0 until 96), t,
      transform = Some(Versioned.Transform.Days("ts")))
    Versioned.append(batch(96 until 120), t,
      transform = Some(Versioned.Transform.Days("ts")))
    // the derived column stays OUT of the logical schema
    val all = Versioned.read(spark, t)
    assert(all.columns.toSeq == Seq("id", "ts"))
    assert(all.count() == 120)
    assert(Versioned.read(spark, t, Some(1)).count() == 96)
    // ...but the data landed hive-partitioned by day
    assert(new java.io.File(s"$t/v=1/gpart_days_ts=2024-06-02").isDirectory)
    // a readWhere on the SOURCE column maps to PartitionFilters on the
    // hidden column and prunes whole day directories (inputFiles
    // ignores plan-level pruning, so read the scans' numFiles metric)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: inner.flatMap(nodes)
    }
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      nodes(df.queryExecution.executedPlan)
        .filter(_.nodeName.toLowerCase.contains("scan"))
        .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }
    val rw = Versioned.readWhere(spark, t,
      "ts", "2024-06-02 03:00:00", "2024-06-02 20:00:00")
    assert(rw.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      (27 to 44))
    val plan = rw.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("gpart_days_ts"))
    assert(scannedFiles(rw) < scannedFiles(all),
      "expected day-directory pruning from the hidden partition filter")
    // bucket() transform: point lookups prune to one bucket
    val tb = s"$work/versioned_transform_bucket"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tb))
    Versioned.commit((1 to 400).map(i => (i, s"r$i")).toDF("k", "v"), tb,
      transform = Some(Versioned.Transform.Bucket(8, "k")))
    val point = Versioned.readWhere(spark, tb, "k", 37, 37)
    assert(point.select("v").collect().map(_.getString(0)).toSeq ==
      Seq("r37"))
    assert(scannedFiles(point) < scannedFiles(Versioned.read(spark, tb)),
      "expected bucket pruning for the point lookup")
    // a copy-on-write upsert keeps the transform layout: the rewritten
    // file lands under a day directory of its own version
    Versioned.upsert(spark, t, batch(3 until 4)
      .withColumn("id", lit(9999)), "ts",
      transform = Some(Versioned.Transform.Days("ts")))
    assert(Versioned.read(spark, t).filter(col("id") === 9999).count() == 1)
    assert(Versioned.read(spark, t).count() == 120)
    val mergeV = Versioned.currentVersion(spark, t)
    assert(new java.io.File(s"$t/v=$mergeV").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("gpart_days_ts=")))
    // ...and readWhere still day-prunes across old + rewritten roots
    assert(Versioned.readWhere(spark, t,
      "ts", "2024-06-01 03:00:00", "2024-06-01 03:00:00")
      .select("id").collect().map(_.getInt(0)).toSeq == Seq(9999))
    // reserved prefix on input columns is refused
    intercept[IllegalArgumentException] {
      Versioned.commit(Seq((1, "x")).toDF("id", "gpart_oops"), t)
    }
  }

  test("versioned table: append chain is O(delta), prior files untouched") {
    import spark.implicits._
    import graft.sources.Versioned
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val t = s"$work/versioned_append_delta"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit((1 to 100).toDF("v").repartition(4), t)
    def parquetFiles(dir: String): Seq[java.nio.file.Path] =
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val before = parquetFiles(s"$t/v=1")
      .map(p => p -> (Files.getLastModifiedTime(p),
        Files.readAllBytes(p).toSeq))
    val v2 = Versioned.append((101 to 110).toDF("v"), t)
    assert(v2 == 2)
    // O(delta): v=1's data files are byte-identical and untouched
    before.foreach { case (p, (mtime, bytes)) =>
      assert(Files.getLastModifiedTime(p) == mtime, s"$p was rewritten")
      assert(Files.readAllBytes(p).toSeq == bytes, s"$p content changed")
    }
    // ...and v=2 holds ONLY the delta's files
    assert(Versioned.dataFileCount(spark, t, Some(2)) ==
      Versioned.dataFileCount(spark, t, Some(1)) +
        parquetFiles(s"$t/v=2").size)
    assert(Versioned.read(spark, t).collect().map(_.getInt(0)).sorted
      .toSeq == (1 to 110))
    assert(Versioned.read(spark, t, Some(1)).count() == 100)
  }

  test("versioned table: incompatible append fails before publishing") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_append_schema"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, 10), (2, 20)).toDF("id", "x"), t)
    // int x vs array x cannot union — the append must fail UP-FRONT
    // (committing it would leave every subsequent read throwing)
    intercept[IllegalArgumentException] {
      Versioned.append(Seq((3, Array(1, 2))).toDF("id", "x"), t)
    }
    // nothing published, table still readable
    assert(Versioned.currentVersion(spark, t) == 1)
    assert(Versioned.read(spark, t).count() == 2)
    // a COMPATIBLE widening/evolving append still goes through
    Versioned.append(Seq((3, 30L, "new")).toDF("id", "x", "extra"), t)
    val after = Versioned.read(spark, t)
    assert(after.count() == 3 && after.columns.contains("extra"))
  }

  test("versioned table: readWhere prunes files, degrades on statless dirs") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_readwhere"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // 4 files with disjoint key ranges -> stats make ranges prunable
    Versioned.commit((1 to 400).toDF("k").repartitionByRange(4, col("k")),
      t, statsCols = Seq("k"))
    val full = Versioned.read(spark, t)
    val pruned = Versioned.readWhere(spark, t, "k", 10, 20)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"expected pruning: ${pruned.inputFiles.length} vs " +
        s"${full.inputFiles.length}")
    assert(pruned.collect().map(_.getInt(0)).sorted.toSeq == (10 to 20))
    // an appended dir WITHOUT stats scans in full — degrade, never lie
    Versioned.append(Seq(15).toDF("k"), t)
    val mixed = Versioned.readWhere(spark, t, "k", 10, 20)
    assert(mixed.collect().map(_.getInt(0)).sorted.toSeq ==
      ((10 to 15) ++ (15 to 20)))
    // a range provably outside every file's stats reads zero files
    // from the stats-carrying dir (only the statless delta scans)
    assert(Versioned.readWhere(spark, t, "k", 1000, 2000).count() == 0)
  }

  test("versioned table: timestamp stats prune TZ-independently") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_ts_stats"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // 4 files of disjoint hourly ranges, committed under UTC
    val tzKey = "spark.sql.session.timeZone"
    val origTz = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "UTC")
      val rows = (0 until 96).map(h =>
        (h, java.sql.Timestamp.valueOf(f"2024-03-10 ${h / 4}%02d:00:00")))
      Versioned.commit(rows.toDF("id", "ts")
        .repartitionByRange(4, col("ts")), t, statsCols = Seq("ts"))
      // read back under a DIFFERENT session TZ (and one with a DST jump
      // at this very date): pruning must agree with the plain filter
      spark.conf.set(tzKey, "America/Los_Angeles")
      val lo = "2024-03-10 06:00:00"
      val hi = "2024-03-10 08:00:00"
      val want = Versioned.read(spark, t)
        .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
        .select("id").collect().map(_.getInt(0)).sorted.toSeq
      val got = Versioned.readWhere(spark, t, "ts", lo, hi)
        .select("id").collect().map(_.getInt(0)).sorted.toSeq
      assert(got == want && want.nonEmpty)
      // and the stats still PRUNE under the shifted zone
      assert(Versioned.readWhere(spark, t, "ts", lo, hi).inputFiles.length <
        Versioned.read(spark, t).inputFiles.length)
    } finally spark.conf.set(tzKey, origTz)
    // binary stats are lossy through the sidecar: rejected at commit
    val t2 = s"$work/versioned_bin_stats"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t2))
    intercept[IllegalArgumentException] {
      Versioned.commit(Seq((1, Array[Byte](1, 2))).toDF("id", "blob"), t2,
        statsCols = Seq("blob"))
    }
  }

  test("versioned table: vacuum reference-counts linked directories") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_refcount"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq(1, 2).toDF("v"), t)
    Versioned.append(Seq(3).toDF("v"), t)
    // expire v=1: its marker goes, but its DIRECTORY stays — v=2's
    // manifest still links it (the Iceberg expire-snapshots rule)
    Versioned.vacuum(spark, t, keep = 1)
    assert(Versioned.versions(spark, t) == Seq(2))
    assert(new java.io.File(s"$t/v=1").isDirectory,
      "v=1 dir deleted while v=2 still links its files")
    assert(Versioned.read(spark, t).count() == 3)
    // compact collapses the chain; now nothing links v=1 or v=2
    Versioned.compact(spark, t)
    Versioned.vacuum(spark, t, keep = 1)
    assert(Versioned.versions(spark, t) == Seq(3))
    assert(!new java.io.File(s"$t/v=1").exists())
    assert(!new java.io.File(s"$t/v=2").exists())
    assert(Versioned.read(spark, t).count() == 3)
  }

  test("versioned table: schema evolution across append null-fills") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_append_evolve"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("id", "name"), t)
    Versioned.append(Seq((3, "c", 0.5)).toDF("id", "name", "score"), t)
    val cur = Versioned.read(spark, t).orderBy("id").collect()
    assert(cur.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // pre-evolution rows null-fill the new column
    assert(cur.take(2).forall(_.isNullAt(2)) && cur(2).getDouble(2) == 0.5)
    // time travel sees the schema as of that snapshot
    assert(Versioned.read(spark, t, Some(1)).columns.toSeq ==
      Seq("id", "name"))
  }

  test("commit row counts come from write metrics: zero footer opens") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_count_harvest"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val before = Versioned.footerOpenCount.get()
    // multi-task commit (8 write tasks → 8 files), O(delta) append,
    // CoW upsert rewrite, MoR delete, compact: every stats-less stage
    // write must take its counts from the job's own task metrics
    Versioned.commit((1 to 50).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(8), t)
    Versioned.append((51 to 60).map(i => (i, s"n$i")).toDF("id", "name"), t)
    Versioned.upsert(spark, t,
      Seq((1, "patched")).toDF("id", "name"), "id")
    Versioned.deleteRows(spark, t, Seq(5).toDF("id"))
    Versioned.compact(spark, t)
    assert(Versioned.footerOpenCount.get() == before,
      "a stats-less commit chain must not open parquet footers")
    // and the harvested counts must be CORRECT: .partitions serves the
    // physical row count from the sidecars alone
    val rows = Versioned.partitions(spark, t)
      .agg(sum("row_count")).head().getLong(0)
    assert(rows == 59L) // 60 committed - 1 MoR-deleted, compacted
    assert(Versioned.footerOpenCount.get() == before,
      ".partitions over harvested sidecars must stay footer-free")
  }

  test("exportSnapshot: portable file list, loud refusals otherwise") {
    import spark.implicits._
    import graft.sources.Versioned
    val t = s"$work/versioned_export"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    Versioned.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name"), t)
    Versioned.append(Seq((4, "d")).toDF("id", "name"), t)
    // clean chain exports: one absolute path per linked data file,
    // spanning BOTH manifest entries, and a raw re-read of exactly
    // those files reproduces the snapshot
    val files = Versioned.exportSnapshot(spark, t)
    assert(files.nonEmpty && files.forall(_.endsWith(".parquet")))
    assert(files.exists(_.contains("/v=1/")) &&
      files.exists(_.contains("/v=2/")))
    val raw = spark.read.parquet(files: _*)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(raw.toSeq == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))

    // a live merge-on-read tombstone must refuse (raw files would
    // resurrect the deleted key) ...
    Versioned.deleteRows(spark, t, Seq(2).toDF("id"))
    val tombEx = intercept[IllegalStateException] {
      Versioned.exportSnapshot(spark, t)
    }
    assert(tombEx.getMessage.contains("tombstone"))
    // ... but the PRE-delete snapshot is still exportable by version
    assert(Versioned.exportSnapshot(spark, t, Some(2)).size ==
      files.size)
    // compaction absorbs the tombstone; export succeeds again and the
    // deleted key is gone from a raw scan of the new list
    Versioned.compactDeletes(spark, t)
    val after = Versioned.exportSnapshot(spark, t)
    assert(spark.read.parquet(after: _*).orderBy("id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3, 4))

    // a pending schema step (rename newer than a linked entry) must
    // refuse — the files still carry the old column name
    Versioned.renameColumn(spark, t, "name", "label")
    val stepEx = intercept[IllegalStateException] {
      Versioned.exportSnapshot(spark, t)
    }
    assert(stepEx.getMessage.contains("schema step"))
    Versioned.compact(spark, t)
    val evolved = Versioned.exportSnapshot(spark, t)
    assert(spark.read.parquet(evolved: _*).columns.contains("label"))

    // hive-partitioned layout must refuse — partition values live in
    // directory names a raw read_parquet drops
    val tp = s"$work/versioned_export_part"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tp))
    Versioned.commit(Seq((1, "x"), (2, "y")).toDF("id", "g"), tp,
      partitionCol = Some("g"))
    val hiveEx = intercept[IllegalStateException] {
      Versioned.exportSnapshot(spark, tp)
    }
    assert(hiveEx.getMessage.contains("hive-partition"))
  }

  test("importFiles links foreign parquet as a commit, no rewrite") {
    import spark.implicits._
    import graft.sources.Versioned
    import java.nio.file.{Files, Paths}
    val src = s"$work/import_src"
    val t = s"$work/versioned_import"
    Seq(src, t).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .coalesce(1).write.parquet(src)
    val srcFile = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    def ino(p: java.io.File): Any =
      Files.getAttribute(Paths.get(p.getPath), "unix:ino")
    Versioned.importFiles(spark, t, Seq(src))
    // the staged file is a HARDLINK of the source (same inode — zero
    // data I/O), owned under the version root
    val imported = new java.io.File(s"$t/v=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(imported.length == 1 &&
      imported.head.getName.startsWith("import-"))
    assert(ino(imported.head) == ino(srcFile),
      "same-volume import must hardlink, not copy")
    assert(Versioned.read(spark, t).orderBy("id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // a second import chains O(delta): v1's file untouched
    val mtime1 = imported.head.lastModified
    Versioned.importFiles(spark, t, Seq(src))
    assert(imported.head.lastModified == mtime1)
    assert(Versioned.read(spark, t).count() == 6)
    // count sidecars landed (from the foreign footers): .partitions
    // answers without fresh footer opens
    val before = Versioned.footerOpenCount.get()
    assert(Versioned.partitions(spark, t)
      .agg(sum("row_count")).head().getLong(0) == 6L)
    assert(Versioned.footerOpenCount.get() == before)
    // an un-unionable import fails BEFORE publishing
    val bad = s"$work/import_bad"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bad))
    Seq((Map("k" -> 1), "x")).toDF("id", "v").write.parquet(bad)
    intercept[IllegalArgumentException](
      Versioned.importFiles(spark, t, Seq(bad)))
    assert(Versioned.currentVersion(spark, t) == 2)
    // the CALL spelling, copy_only: content imported, inode fresh
    val abs = new java.io.File(t).getAbsolutePath
    val v3 = spark.sql("CALL graft.system.add_files(" +
      s"table => '$abs', source_path => '$src', copy_only => true)")
      .head().getInt(0)
    assert(v3 == 3 && Versioned.read(spark, t).count() == 9)
    val copied = new java.io.File(s"$t/v=3").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(ino(copied) != ino(srcFile))
  }

  test("partition pruning reaches the scan for the derived date") {
    val table = s"$work/table"
    val pruned = Etl.readTable(spark, table)
      .filter(col("ship_day") === "1995-06-17")
    val scan = pruned.queryExecution.executedPlan.toString
    // partition filter must appear as a PartitionFilters entry, not a
    // post-scan Filter over all partitions
    assert(scan.contains("PartitionFilters") &&
      scan.contains("ship_day"))
  }
}
