package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{DerivedTable, Versioned}

class DerivedSpec extends SparkSpec {

  private def clean(paths: String*): Unit = paths.foreach(p =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

  private val t: DataFrame => DataFrame =
    _.filter(col("v") >= 10).select(col("k"), (col("v") * 2).as("w"))

  test("refresh: bootstrap, O(delta) advance, filter-boundary " +
      "crossings, delete propagation, pin travel") {
    import spark.implicits._
    val src = "target/tmp/derived-src"
    val dst = "target/tmp/derived-dst"
    clean(src, dst)
    Versioned.commit(Seq((1L, 20L), (2L, 5L), (3L, 30L))
      .toDF("k", "v"), src)
    // bootstrap = full build, pinned to the source head
    assert(DerivedTable.refresh(spark, src, dst, "k", t) == ((0, 1)))
    assert(Versioned.read(spark, dst).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 40L), (3L, 60L)))
    // no-op: the pin already matches — no new destination version
    assert(DerivedTable.refresh(spark, src, dst, "k", t) == ((1, 1)))
    assert(Versioned.currentVersion(spark, dst) == 1)
    // source advances twice before ONE refresh: an append, then an
    // atomic CDC batch moving rows across the filter boundary in both
    // directions (2 rises, 3 falls) and deleting key 1
    Versioned.append(Seq((4L, 15L), (5L, 3L)).toDF("k", "v"), src)
    Versioned.applyChanges(spark, src,
      upserts = Seq((2L, 50L), (3L, 4L)).toDF("k", "v"),
      deleteKeys = Seq(Tuple1(1L)).toDF("k"), key = "k")
    assert(DerivedTable.refresh(spark, src, dst, "k", t) == ((1, 3)))
    assert(Versioned.read(spark, dst).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 100L), (4L, 30L)))
    // the cursor is IN the table: the head note pins the processed
    // source version, so any session/engine resumes from the bytes
    assert(Versioned.commitNotes(spark, dst)(
      Versioned.currentVersion(spark, dst)).contains("src=v3"))
    // row-for-row equality with the full recompute, bag semantics
    val expect = t(Versioned.read(spark, src))
    val got = Versioned.read(spark, dst)
    assert(got.exceptAll(expect).isEmpty &&
      expect.exceptAll(got).isEmpty)
    // destination history shows WHICH source state each version
    // reflects — time travel to the bootstrap still returns it
    assert(Versioned.read(spark, dst, Some(1)).count() == 2)
    // append-mostly fast path: a refresh whose keys sit ABOVE the
    // standing destination's range must LINK the old files untouched
    // (key stats prune applyChanges' touched-file probe to nothing →
    // linked append), never rewrite them
    val before = Versioned.files(spark, dst).collect()
      .map(_.getString(0)).toSet
    Versioned.append(Seq((100L, 40L)).toDF("k", "v"), src)
    assert(DerivedTable.refresh(spark, src, dst, "k", t) == ((3, 4)))
    val after = Versioned.files(spark, dst).collect()
      .map(_.getString(0)).toSet
    assert(before.subsetOf(after),
      "disjoint-key refresh must not rewrite standing files")
    assert(Versioned.read(spark, dst).filter(col("k") === 100L)
      .head().getLong(1) == 80L)
  }

  test("refresh refusals: pin-less destination, key-dropping " +
      "transform, rolled-back source") {
    import spark.implicits._
    val src = "target/tmp/derived-ref-src"
    clean(src)
    Versioned.commit(Seq((1L, 20L)).toDF("k", "v"), src)
    // a destination without a src=v pin is NOT a derived table
    val plain = "target/tmp/derived-ref-plain"
    clean(plain)
    Versioned.commit(Seq((9L, 9L)).toDF("k", "v"), plain)
    val e1 = intercept[IllegalStateException](
      DerivedTable.refresh(spark, src, plain, "k", t))
    assert(e1.getMessage.contains("no src=v pin"))
    // a transform that drops the key cannot propagate deltas
    val dst = "target/tmp/derived-ref-dst"
    clean(dst)
    val e2 = intercept[IllegalArgumentException](
      DerivedTable.refresh(spark, src, dst, "k",
        _.select(col("v"))))
    assert(e2.getMessage.contains("preserve the key"))
    // a pin BEYOND the source head means the source was rolled back
    // or replaced — advancing would fabricate history
    val ahead = "target/tmp/derived-ref-ahead"
    clean(ahead)
    Versioned.commit(Seq((1L, 40L)).toDF("k", "w"), ahead,
      note = Some("src=v99"))
    val e3 = intercept[IllegalArgumentException](
      DerivedTable.refresh(spark, src, ahead, "k", t))
    assert(e3.getMessage.contains("beyond the source"))
  }

  test("refreshAgg: group birth/death, nulled values, pin travel") {
    import spark.implicits._
    val src = "target/tmp/aggmv-src"
    val dst = "target/tmp/aggmv-dst"
    clean(src, dst)
    Versioned.commit(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
      .toDF("id", "g", "v"), src)
    DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
    def state(ver: Option[Int] = None): Map[String, (Any, Long, Long)] =
      Versioned.read(spark, dst, ver).collect()
        .map(r => r.getString(0) ->
          ((r.get(1), r.getLong(2), r.getLong(3)))).toMap
    assert(state() == Map("a" -> ((30L, 2L, 2L)), "b" -> ((5L, 1L, 1L))))
    // group migration (1: a->c), value nulled in place (2), group
    // death (b's only row deleted) — one atomic source batch
    Versioned.applyChanges(spark, src,
      upserts = Seq((1L, "c", 10L)).toDF("id", "g", "v")
        .unionByName(Seq((2L, "a")).toDF("id", "g")
          .withColumn("v", lit(null).cast("long"))),
      deleteKeys = Seq(3L).toDF("id"), key = "id")
    DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
    // a: one row left with a NULL value -> NULL sum, cnt 0, n 1;
    // c: born; b: dead (no row at all)
    assert(state() == Map("a" -> ((null, 0L, 1L)),
      "c" -> ((10L, 1L, 1L))))
    // pin travel: v1 of the destination still shows the old rollup
    assert(state(Some(1)) ==
      Map("a" -> ((30L, 2L, 2L)), "b" -> ((5L, 1L, 1L))))
    // no-op: same pin, no new version
    val vb = Versioned.currentVersion(spark, dst)
    DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
    assert(Versioned.currentVersion(spark, dst) == vb)
  }

  test("refreshAgg extrema: deleted maximum recomputes from the " +
      "affected group only; untouched groups keep stored bounds") {
    import spark.implicits._
    val src = "target/tmp/aggmv-ext-src"
    val dst = "target/tmp/aggmv-ext-dst"
    clean(src, dst)
    Versioned.commit(Seq((1L, "a", 10L), (2L, "a", 90L), (3L, "a", 50L),
      (4L, "b", 7L)).toDF("id", "g", "v"), src)
    DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v",
      extrema = Seq("v"))
    def state(): Map[String, (Long, Any, Any)] =
      Versioned.read(spark, dst).collect().map(r =>
        r.getString(0) -> ((r.getLong(3), r.get(4), r.get(5)))).toMap
    assert(state() == Map("a" -> ((3L, 10L, 90L)),
      "b" -> ((1L, 7L, 7L))))
    // delete a's MAXIMUM: not delta-invertible — the refresh must
    // recompute group a's bounds from the source (b stays untouched)
    Versioned.deleteRows(spark, src, Seq(2L).toDF("id"))
    DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v",
      extrema = Seq("v"))
    assert(state() == Map("a" -> ((2L, 10L, 50L)),
      "b" -> ((1L, 7L, 7L))))
    // group migration births the new group's bounds and shrinks the
    // old group's — in one refresh
    Versioned.applyChanges(spark, src,
      upserts = Seq((1L, "c", 10L)).toDF("id", "g", "v"),
      deleteKeys = spark.range(0).select(col("id")), key = "id")
    DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v",
      extrema = Seq("v"))
    assert(state() == Map("a" -> ((1L, 50L, 50L)),
      "b" -> ((1L, 7L, 7L)), "c" -> ((1L, 10L, 10L))))
    // and the SQL spelling drives the same thing
    val (src2, src2Abs) = ("target/tmp/aggmv-ext-src2",
      new java.io.File("target/tmp/aggmv-ext-src2").getAbsolutePath)
    val (dst2, dst2Abs) = ("target/tmp/aggmv-ext-dst2",
      new java.io.File("target/tmp/aggmv-ext-dst2").getAbsolutePath)
    clean(src2, dst2)
    Versioned.commit(Seq((1L, "x", 3L), (2L, "x", 8L))
      .toDF("id", "g", "v"), src2)
    spark.sql("CALL graft.system.refresh_agg(" +
      s"source => '$src2Abs', dest => '$dst2Abs', row_key => 'id', " +
      "group_by => 'g', value => 'v', extrema => 'v')").collect()
    val r2 = Versioned.read(spark, dst2).head()
    assert((r2.getLong(4), r2.getLong(5)) == ((3L, 8L)))
  }

  test("refreshAgg: WHERE predicate and multi-column group tuples " +
      "are delta-maintained, extrema included") {
    import spark.implicits._
    val src = "target/tmp/aggmv-where-src"
    val dst = "target/tmp/aggmv-where-dst"
    clean(src, dst)
    Versioned.commit((1L to 30L)
      .map(i => (i, s"g${i % 3}", s"r${i % 2}", i))
      .toDF("id", "g", "r", "v"), src)
    def adv(): Unit = { DerivedTable.refreshAgg(spark, src, dst, "id",
      Seq("g", "r"), "v", extrema = Seq("v"),
      where = Some("v >= 10")); () }
    adv()
    def expect() = Versioned.read(spark, src).filter($"v" >= 10)
      .groupBy($"g", $"r").agg(
        sum($"v").as("sum_v"), count($"v").as("cnt_v"),
        count(lit(1)).as("n_rows"), min($"v").as("min_v"),
        max($"v").as("max_v"))
    assert(DerivedTable.bagEqual(Versioned.read(spark, dst), expect()))
    // one atomic batch: a row falls below the bar, one rises above
    // it AND migrates tuple, a new tuple is born, and the (g2, r1)
    // maximum (29) dies — the non-invertible channel
    Versioned.applyChanges(spark, src,
      upserts = Seq((12L, "g0", "r0", 3L),
          (3L, "g1", "r0", 500L),
          (31L, "gX", "r1", 42L))
        .toDF("id", "g", "r", "v"),
      deleteKeys = Seq(29L).toDF("id"), key = "id")
    adv()
    assert(DerivedTable.bagEqual(Versioned.read(spark, dst), expect()))
    val g2r1 = Versioned.read(spark, dst)
      .filter($"g" === "g2" && $"r" === "r1").head()
    assert((g2r1.getLong(5), g2r1.getLong(6)) == ((11L, 23L)))
    // tuple death: the lone gX row deleted removes its group row
    Versioned.deleteRows(spark, src, Seq(31L).toDF("id"))
    adv()
    assert(Versioned.read(spark, dst).filter($"g" === "gX").isEmpty)
    assert(DerivedTable.bagEqual(Versioned.read(spark, dst), expect()))
    // no-op stability holds for the filtered multi-column spelling
    val vb = Versioned.currentVersion(spark, dst)
    adv()
    assert(Versioned.currentVersion(spark, dst) == vb)
  }

  test("refreshAgg: net-zero churn and dead ranges still advance " +
      "the pin; post-bootstrap null group refuses with the designed " +
      "message") {
    import spark.implicits._
    val src = "target/tmp/aggmv-pin-src"
    val dst = "target/tmp/aggmv-pin-dst"
    clean(src, dst)
    Versioned.commit(Seq((1L, "a", 1L)).toDF("id", "g", "v"), src)
    DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
    // insert+delete the same keys in the window: zero net change,
    // but the pin must travel (a stuck pin re-covers the dead range
    // on every later refresh until the touched-key bound trips)
    Versioned.append(Seq((2L, "b", 5L), (3L, "b", 6L))
      .toDF("id", "g", "v"), src)
    Versioned.deleteRows(spark, src, Seq(2L, 3L).toDF("id"))
    val r = DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
    assert(r == ((1, 3)))
    val srcHead = Versioned.currentVersion(spark, src)
    val again = DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
    assert(again == ((srcHead, srcHead)), "pin must have advanced")
    assert(Versioned.read(spark, dst).collect()
      .map(x => (x.getString(0), x.getLong(3))).toSeq == Seq(("a", 1L)))
    // a metadata-only source range advances the pin too
    Versioned.tag(spark, src, "marker")
    Versioned.setProperties(spark, src, Map("k" -> "v"))
    val meta = DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
    assert(meta._1 < meta._2)
    assert(DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
      ._1 == Versioned.currentVersion(spark, src))
    // a null group arriving AFTER bootstrap refuses with the same
    // designed message as the bootstrap check
    Versioned.append(Seq(Tuple1(9L)).toDF("id")
      .withColumn("g", lit(null).cast("string"))
      .withColumn("v", lit(1L)), src)
    val e = intercept[IllegalArgumentException](
      DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v"))
    assert(e.getMessage.contains("null 'g' group"))
  }

  test("refreshAgg join tier: >1000 touched keys and groups stay " +
      "distributed (semi-join reads), result equals recompute") {
    import spark.implicits._
    val src = "target/tmp/aggmv-big-src"
    val dst = "target/tmp/aggmv-big-dst"
    clean(src, dst)
    // 1500 rows over 1200 groups: both the touched-row reads and the
    // group point reads exceed PruneKeyLimit (1000) and take the
    // broadcast-semi-join tier — the driver holds only counts
    val rows = (1L to 1500L).map(i => (i, s"g${i % 1200}", i))
      .toDF("id", "g", "v")
    Versioned.commit(rows, src)
    DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
    // touch EVERY row (values shift by 7), plus kill one group
    Versioned.applyChanges(spark, src,
      upserts = rows.select($"id", $"g", ($"v" + 7L).as("v"))
        .filter($"g" =!= "g7"),
      deleteKeys = rows.filter($"g" === "g7").select($"id"),
      key = "id")
    val (f, t) = DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
    assert(f == 1 && t == 2)
    val fin = Versioned.read(spark, dst)
    val expect = Versioned.read(spark, src).groupBy($"g").agg(
      sum($"v").as("sum_v"), count($"v").as("cnt_v"),
      count(lit(1)).as("n_rows"))
    assert(DerivedTable.bagEqual(fin, expect))
    assert(fin.filter($"g" === "g7").isEmpty)
    // the bound still enforces via the count alone
    Versioned.applyChanges(spark, src,
      upserts = rows.limit(10).select($"id", $"g", ($"v" * 2).as("v")),
      deleteKeys = spark.range(0).select($"id"), key = "id")
    val e = intercept[IllegalArgumentException](
      DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v",
        maxTouchedKeys = 5))
    assert(e.getMessage.contains("rebuild"))
  }

  test("refreshAgg refusals: null group, foreign-key tombstone, " +
      "touched-key bound, corrupt destination") {
    import spark.implicits._
    val src = "target/tmp/aggmv-ref-src"
    clean(src)
    Versioned.commit(Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "b", 3L))
      .toDF("id", "g", "v"), src)
    // null group key refuses at bootstrap, not at first touch
    val srcN = "target/tmp/aggmv-ref-srcnull"
    val dstN = "target/tmp/aggmv-ref-dstnull"
    clean(srcN, dstN)
    Versioned.commit(Seq((1L, "a", 1L)).toDF("id", "g", "v")
      .unionByName(Seq(Tuple1(2L)).toDF("id")
        .withColumn("g", lit(null).cast("string"))
        .withColumn("v", lit(9L))), srcN)
    val e0 = intercept[IllegalArgumentException](
      DerivedTable.refreshAgg(spark, srcN, dstN, "id", Seq("g"), "v"))
    assert(e0.getMessage.contains("null 'g' group"))
    // a tombstone keyed on a non-rowKey column: the net diff carries
    // the deleted rows whole, so the refresh equals a full recompute
    val dst = "target/tmp/aggmv-ref-dst"
    clean(dst)
    DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
    Versioned.deleteRows(spark, src, Seq("b").toDF("g"))
    DerivedTable.refreshAgg(spark, src, dst, "id", Seq("g"), "v")
    assert(DerivedTable.bagEqual(Versioned.read(spark, dst),
      Versioned.read(spark, src).groupBy($"g").agg(sum($"v").as("sum_v"),
        count($"v").as("cnt_v"), count(lit(1)).as("n_rows"))))
    // touched-key bound refuses with rebuild advice
    val src2 = "target/tmp/aggmv-ref-src2"
    val dst2 = "target/tmp/aggmv-ref-dst2"
    clean(src2, dst2)
    Versioned.commit(Seq((1L, "a", 1L)).toDF("id", "g", "v"), src2)
    DerivedTable.refreshAgg(spark, src2, dst2, "id", Seq("g"), "v")
    Versioned.append((2L to 5L).map(i => (i, "a", i))
      .toDF("id", "g", "v"), src2)
    val e2 = intercept[IllegalArgumentException](
      DerivedTable.refreshAgg(spark, src2, dst2, "id", Seq("g"), "v",
        maxTouchedKeys = 2))
    assert(e2.getMessage.contains("rebuild"))
    // a destination that does not reflect its pin (out-of-band edit
    // shrank a group) fails the negative-row-count check loudly
    val src3 = "target/tmp/aggmv-ref-src3"
    val dst3 = "target/tmp/aggmv-ref-dst3"
    clean(src3, dst3)
    Versioned.commit(Seq((1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L))
      .toDF("id", "g", "v"), src3)
    DerivedTable.refreshAgg(spark, src3, dst3, "id", Seq("g"), "v")
    Versioned.applyChanges(spark, dst3,
      upserts = Seq(("a", 1L, 1L, 1L))
        .toDF("g", "sum_v", "cnt_v", "n_rows"),
      deleteKeys = spark.range(0)
        .select(col("id").cast("string").as("g")),
      key = "g", note = Some("src=v1"))
    Versioned.deleteRows(spark, src3, Seq(1L, 2L).toDF("id"))
    val e3 = intercept[IllegalArgumentException](
      DerivedTable.refreshAgg(spark, src3, dst3, "id", Seq("g"), "v"))
    assert(e3.getMessage.contains("negative row count"))
    // a PURE VALUE UPDATE (net-zero row delta) whose group row was
    // removed from the destination out-of-band must refuse — not
    // silently patch to n_rows=0 and emit a group delete that drops
    // the updated sum
    val src4 = "target/tmp/aggmv-ref-src4"
    val dst4 = "target/tmp/aggmv-ref-dst4"
    clean(src4, dst4)
    Versioned.commit(Seq((1L, "a", 1L), (2L, "b", 2L))
      .toDF("id", "g", "v"), src4)
    DerivedTable.refreshAgg(spark, src4, dst4, "id", Seq("g"), "v")
    Versioned.deleteRows(spark, dst4, Seq("a").toDF("g")) // out-of-band
    Versioned.commitNote(spark, dst4, "src=v1") // re-pin over the edit
    Versioned.applyChanges(spark, src4,
      upserts = Seq((1L, "a", 100L)).toDF("id", "g", "v"),
      deleteKeys = spark.range(0).select(col("id")), key = "id")
    val e4 = intercept[IllegalArgumentException](
      DerivedTable.refreshAgg(spark, src4, dst4, "id", Seq("g"), "v"))
    assert(e4.getMessage.contains("pure-value-update"))
  }

  test("a properties commit carries note pins forward FRAGMENT-WISE " +
      "— a caller note token merely ending in the pin key cannot " +
      "bury it") {
    import spark.implicits._
    val src = "target/tmp/derived-pin-src"
    val dst = "target/tmp/derived-pin-dst"
    clean(src, dst)
    Versioned.commit(Seq((1L, 2L)).toDF("k", "v"), src)
    DerivedTable.refresh(spark, src, dst, "k", identity)
    assert(Versioned.notePin(spark, dst, "src").contains(1))
    // "xsrc=v9" contains the substring "src=v" — the old substring
    // match dropped the carried pin here; fragment-wise keying keeps
    // it (and a REAL caller re-pin of the same key still wins)
    Versioned.setProperties(spark, dst, set = Map("a" -> "b"),
      note = Some("xsrc=v9"))
    assert(Versioned.notePin(spark, dst, "src").contains(1))
    Versioned.setProperties(spark, dst, set = Map("a" -> "c"),
      note = Some("src=v1;marker"))
    assert(Versioned.notePin(spark, dst, "src").contains(1))
    // the pin still drives the refresh after both commits
    Versioned.append(Seq((2L, 3L)).toDF("k", "v"), src)
    assert(DerivedTable.refresh(spark, src, dst, "k", identity) ==
      ((1, 2)))
  }
}
