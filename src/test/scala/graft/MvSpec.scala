package graft

import org.apache.spark.sql.functions._

import graft.sources.{DerivedTable, Versioned}

/** The SQL materialized-view lifecycle: CREATE MATERIALIZED VIEW
  * bootstraps the build and persists the spec in the view's own table
  * properties; CALL graft.system.refresh_mv advances it argument-free
  * (reading the spec back); SHOW TBLPROPERTIES surfaces the stored
  * definition; DROP MATERIALIZED VIEW removes it. Shape refusals pin
  * the delta-maintainability contract. */
class MvSpec extends SparkSpec {
  import spark.implicits._

  private val work = "target/tmp/mv"
  private def fresh(name: String): String = {
    val t = s"$work/$name"
    val f = new java.io.File(t)
    // clear the dir AND its family siblings (an aggjoin view's
    // hidden `.silver` from a previous run would refuse the CREATE)
    org.apache.commons.io.FileUtils.deleteQuietly(f)
    Option(f.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(name + "."))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    f.getAbsolutePath
  }

  test("derived MV: pure-SQL create, argument-free refresh, " +
      "properties surface the spec, drop") {
    val src = fresh("mv_src")
    val dst = fresh("mv_dst")
    Versioned.commit((1L to 20L).map(i => (i, s"s${i % 3}", i * 10L))
      .toDF("id", "source", "n"), src)
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      s"KEY (id) AS SELECT id, source, n * 2 AS w FROM graft.`$src` " +
      "WHERE n >= 50").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("derived", 0, 1)))
    val got1 = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(got1.count() == 16 &&
      got1.filter($"id" === 5L).head().getLong(2) == 100L)
    // the spec travels with the bytes: properties carry it all
    val props = Versioned.properties(spark, dst)
    assert(props(DerivedTable.MvKindProp) == "derived" &&
      props(DerivedTable.MvSourceProp) == src &&
      props(DerivedTable.MvKeyProp) == "id" &&
      props(DerivedTable.MvQueryProp).startsWith("SELECT id"))
    // SHOW TBLPROPERTIES is the DESCRIBE surface — and the CURRENT
    // source pin rides beside the spec (read live from the head note)
    val shown = spark.sql(s"SHOW TBLPROPERTIES graft.`$dst`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get(DerivedTable.MvKindProp).contains("derived"))
    assert(shown.get("graft.mv.pinned_source_version").contains("1"))
    // source advances: one upsert crossing the filter bar DOWN, one
    // new row, one delete — refresh_mv propagates all three with NO
    // caller-supplied spec
    Versioned.applyChanges(spark, src,
      upserts = Seq((5L, "s2", 10L), (21L, "s0", 990L))
        .toDF("id", "source", "n"),
      deleteKeys = Seq(7L).toDF("id"), key = "id")
    val r = spark.sql(
      s"CALL graft.system.refresh_mv('$dst')").collect()
    assert(r.map(_.toSeq).toSeq == Seq(Seq("derived", 1, 2)))
    val got2 = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(got2.count() == 15) // 16 - fell(5) - deleted(7) + new(21)
    assert(got2.filter($"id" === 5L).isEmpty &&
      got2.filter($"id" === 7L).isEmpty &&
      got2.filter($"id" === 21L).head().getLong(2) == 1980L)
    // row-for-row against the full recompute, in SQL
    val expect = spark.sql(s"SELECT id, source, n * 2 AS w " +
      s"FROM graft.`$src` WHERE n >= 50")
    assert(got2.exceptAll(expect).isEmpty &&
      expect.exceptAll(got2).isEmpty)
    // no-op refresh holds the version
    val r2 = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(r2.head.getInt(1) == r2.head.getInt(2))
    // IF NOT EXISTS no-ops on the standing view; bare CREATE refuses
    assert(spark.sql(s"CREATE MATERIALIZED VIEW IF NOT EXISTS " +
      s"graft.`$dst` KEY (id) AS SELECT id FROM graft.`$src`")
      .collect().isEmpty)
    val dup = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$dst` KEY (id) " +
        s"AS SELECT id FROM graft.`$src`"))
    assert(dup.getMessage.contains("already exists"))
    // DROP MATERIALIZED VIEW removes it; IF EXISTS then no-ops
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$dst`")
    assert(Versioned.currentVersion(spark, dst) == 0)
    spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS graft.`$dst`")
    val gone = intercept[Exception](spark.sql(
      s"DROP MATERIALIZED VIEW graft.`$dst`"))
    assert(gone.getMessage.contains("does not exist"))
  }

  test("aggregate MV: ROW KEY spelling, extrema, argument-free " +
      "delta refresh") {
    val src = fresh("aggmv_src")
    val dst = fresh("aggmv_dst")
    Versioned.commit((1L to 30L).map(i => (i, s"g${i % 3}", i))
      .toDF("id", "g", "v"), src)
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      s"ROW KEY (id) AS SELECT g, sum(v) AS sum_v, count(v) AS " +
      s"cnt_v, count(*) AS n_rows, min(v) AS min_v, max(v) AS max_v " +
      s"FROM graft.`$src` GROUP BY g").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("agg", 0, 1)))
    assert(spark.sql(s"SELECT * FROM graft.`$dst`").columns.toSeq ==
      Seq("g", "sum_v", "cnt_v", "n_rows", "min_v", "max_v"))
    val props = Versioned.properties(spark, dst)
    assert(props(DerivedTable.MvKindProp) == "agg" &&
      props(DerivedTable.MvGroupProp) == "g" &&
      props(DerivedTable.MvValueProp) == "v" &&
      props(DerivedTable.MvExtremaProp) == "v" &&
      props(DerivedTable.MvRowKeyProp) == "id")
    // delete the maximum of g0 (30) and migrate 1 to a new group
    Versioned.applyChanges(spark, src,
      upserts = Seq((1L, "fresh", 500L)).toDF("id", "g", "v"),
      deleteKeys = Seq(30L).toDF("id"), key = "id")
    val r = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(r.map(_.toSeq).toSeq == Seq(Seq("agg", 1, 2)))
    val fin = spark.sql(s"SELECT * FROM graft.`$dst`")
    val expect = spark.sql(s"SELECT g, sum(v) AS sum_v, count(v) AS " +
      s"cnt_v, count(*) AS n_rows, min(v) AS min_v, max(v) AS max_v " +
      s"FROM graft.`$src` GROUP BY g")
    assert(fin.exceptAll(expect).isEmpty &&
      expect.exceptAll(fin).isEmpty)
    assert(fin.filter($"g" === "fresh").head().getLong(1) == 500L)
    // the deleted maximum recomputed: g0 max falls from 30 to 27
    assert(fin.filter($"g" === "g0").head().getLong(5) == 27L)
  }

  test("MV chains: a derived silver view feeds an aggregate gold " +
      "view, refresh_mv cascades the medallion") {
    val src = fresh("chain_src")
    val silver = fresh("chain_silver")
    val gold = fresh("chain_gold")
    Versioned.commit((1L to 40L).map(i => (i, s"g${i % 4}", i))
      .toDF("id", "g", "v"), src)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$silver` KEY (id) " +
      s"AS SELECT id, g, v * 2 AS w FROM graft.`$src` WHERE v >= 5")
    // gold aggregates the SILVER view — an MV over an MV: the silver
    // table's own changelog drives gold's delta maintenance
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` ROW KEY (id) " +
      s"AS SELECT g, sum(w) AS sum_w, count(w) AS cnt_w, " +
      s"count(*) AS n_rows FROM graft.`$silver` GROUP BY g")
    def goldExpect() = spark.sql(s"SELECT g, sum(w) AS sum_w, " +
      s"count(w) AS cnt_w, count(*) AS n_rows FROM graft.`$silver` " +
      "GROUP BY g")
    assert(DerivedTable.bagEqual(
      Versioned.read(spark, gold), goldExpect()))
    // edits at the source cascade through one refresh of each layer:
    // one row falls below silver's bar, one new row, one delete
    Versioned.applyChanges(spark, src,
      upserts = Seq((6L, "g2", 1L), (41L, "g1", 100L))
        .toDF("id", "g", "v"),
      deleteKeys = Seq(8L).toDF("id"), key = "id")
    val r1 = spark.sql(s"CALL graft.system.refresh_mv('$silver')")
      .head()
    val r2 = spark.sql(s"CALL graft.system.refresh_mv('$gold')").head()
    assert(r1.getInt(1) < r1.getInt(2) && r2.getInt(1) < r2.getInt(2))
    val silverExpect = spark.sql(s"SELECT id, g, v * 2 AS w FROM " +
      s"graft.`$src` WHERE v >= 5")
    assert(DerivedTable.bagEqual(
      Versioned.read(spark, silver), silverExpect))
    assert(DerivedTable.bagEqual(
      Versioned.read(spark, gold), goldExpect()))
    assert(Versioned.read(spark, gold).filter($"g" === "g1")
      .head().getLong(1) ==
      silverExpect.filter($"g" === "g1").agg(sum($"w")).head().getLong(0))
  }

  test("filtered and multi-column aggregate MVs: WHERE predicates " +
      "and group tuples are delta-maintained") {
    val src = fresh("fagg_src")
    val fdst = fresh("fagg_dst")
    val mdst = fresh("magg_dst")
    Versioned.commit((1L to 40L)
      .map(i => (i, s"g${i % 3}", s"r${i % 2}", i))
      .toDF("id", "g", "r", "v"), src)
    // the single most common MV in practice: a filtered GROUP BY
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$fdst` ROW KEY (id) " +
      s"AS SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, count(*) " +
      s"AS n_rows FROM graft.`$src` WHERE v >= 10 GROUP BY g")
    def fexp() = spark.sql(s"SELECT g, sum(v) AS sum_v, count(v) AS " +
      s"cnt_v, count(*) AS n_rows FROM graft.`$src` WHERE v >= 10 " +
      "GROUP BY g")
    assert(DerivedTable.bagEqual(Versioned.read(spark, fdst), fexp()))
    assert(Versioned.properties(spark, fdst)
      .get(DerivedTable.MvWhereProp).exists(_.contains("10")))
    // a two-column group tuple, extrema included
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mdst` ROW KEY (id) " +
      s"AS SELECT g, r, sum(v) AS sum_v, count(v) AS cnt_v, " +
      s"count(*) AS n_rows, min(v) AS min_v, max(v) AS max_v " +
      s"FROM graft.`$src` GROUP BY g, r")
    def mexp() = spark.sql(s"SELECT g, r, sum(v) AS sum_v, count(v) " +
      s"AS cnt_v, count(*) AS n_rows, min(v) AS min_v, max(v) AS " +
      s"max_v FROM graft.`$src` GROUP BY g, r")
    assert(DerivedTable.bagEqual(Versioned.read(spark, mdst), mexp()))
    assert(Versioned.properties(spark, mdst)(DerivedTable.MvGroupProp)
      == "g,r")
    // one batch crossing the predicate boundary BOTH directions, a
    // tuple migration, a brand-new tuple, and a delete
    Versioned.applyChanges(spark, src,
      upserts = Seq((12L, "g0", "r0", 3L), // falls below the bar
          (3L, "g0", "r1", 500L), // rises above it AND migrates tuple
          (41L, "gX", "r0", 77L)) // new tuple born
        .toDF("id", "g", "r", "v"),
      deleteKeys = Seq(20L).toDF("id"), key = "id")
    val rf = spark.sql(s"CALL graft.system.refresh_mv('$fdst')").head()
    val rm = spark.sql(s"CALL graft.system.refresh_mv('$mdst')").head()
    assert(rf.getInt(1) < rf.getInt(2) && rm.getInt(1) < rm.getInt(2))
    assert(DerivedTable.bagEqual(Versioned.read(spark, fdst), fexp()))
    assert(DerivedTable.bagEqual(Versioned.read(spark, mdst), mexp()))
    // tuple death: the lone gX row dies, its group row must vanish
    Versioned.deleteRows(spark, src, Seq(41L).toDF("id"))
    spark.sql(s"CALL graft.system.refresh_mv('$mdst')")
    assert(Versioned.read(spark, mdst)
      .filter($"g" === "gX").isEmpty)
    assert(DerivedTable.bagEqual(Versioned.read(spark, mdst), mexp()))
  }

  test("MV staleness contract: properties surface pin/head/lag " +
      "live; max-staleness-versions refuses stale reads; refresh " +
      "clears it") {
    val src = fresh("stale_src")
    val dst = fresh("stale_dst")
    Versioned.commit((1L to 10L).map(i => (i, i * 2L)).toDF("id", "v"),
      src)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` KEY (id) " +
      s"AS SELECT id, v FROM graft.`$src`")
    def shown(): Map[String, String] =
      spark.sql(s"SHOW TBLPROPERTIES graft.`$dst`").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    // fresh: pin == head, lag 0 — SHOW TBLPROPERTIES is the
    // refresh-state surface
    val p0 = shown()
    assert(p0.get("graft.mv.pinned_source_version").contains("1") &&
      p0.get("graft.mv.source_head_version").contains("1") &&
      p0.get("graft.mv.staleness_versions").contains("0"))
    assert(DerivedTable.refreshState(spark, dst).contains((1, 1, 0)))
    // bound the lag at 1 source commit; the properties commit must
    // NOT bury the src=vN pin (it rides the note forward)
    spark.sql(s"ALTER TABLE graft.`$dst` SET TBLPROPERTIES " +
      s"('${DerivedTable.MvMaxStalenessProp}'='1')")
    assert(shown().get("graft.mv.pinned_source_version").contains("1"))
    // one source commit: lag 1, still within bound — reads serve
    Versioned.append(Seq((11L, 22L)).toDF("id", "v"), src)
    assert(spark.sql(s"SELECT * FROM graft.`$dst`").count() == 10)
    // a second commit: lag 2 > 1 — the read refuses, NAMING the
    // property and the refresh spelling; DESCRIBE surfaces still work
    Versioned.append(Seq((12L, 24L)).toDF("id", "v"), src)
    val e = intercept[Exception](
      spark.sql(s"SELECT count(*) FROM graft.`$dst`").collect())
    assert(e.getMessage.contains(DerivedTable.MvMaxStalenessProp) &&
      e.getMessage.contains("refresh_mv"))
    assert(shown().get("graft.mv.staleness_versions").contains("2"))
    // an explicit PINNED historical read is exempt — the requested
    // snapshot is immutable and was fresh when committed; only head
    // reads are governed by the bound
    assert(spark.sql(
      s"SELECT * FROM graft.`$dst` VERSION AS OF 1").count() == 10)
    // refresh (path-exempt, or it could never catch up) clears it
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(spark.sql(s"SELECT * FROM graft.`$dst`").count() == 12)
    assert(DerivedTable.refreshState(spark, dst).contains((3, 3, 0)))
    // a malformed bound refuses with its own message
    spark.sql(s"ALTER TABLE graft.`$dst` SET TBLPROPERTIES " +
      s"('${DerivedTable.MvMaxStalenessProp}'='soon')")
    val bad = intercept[Exception](
      spark.sql(s"SELECT * FROM graft.`$dst`").collect())
    assert(bad.getMessage.contains("must be an integer"))
    // unsetting the property restores unbounded reads
    spark.sql(s"ALTER TABLE graft.`$dst` UNSET TBLPROPERTIES " +
      s"('${DerivedTable.MvMaxStalenessProp}')")
    assert(spark.sql(s"SELECT * FROM graft.`$dst`").count() == 12)
  }

  test("shape refusals pin the delta-maintainability contract") {
    val src = fresh("mvref_src")
    val src2 = fresh("mvref_src2")
    val dst = fresh("mvref_dst")
    Versioned.commit(Seq((1L, "a", 2L)).toDF("id", "g", "v"), src)
    Versioned.commit(Seq((1L, "b")).toDF("id", "x"), src2)
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage.contains(frag),
        s"expected '$frag' in: ${e.getMessage.take(300)}")
    }
    val mk = s"CREATE MATERIALIZED VIEW graft.`$dst` "
    // three tables is a legal STAR since r17 — but the same dim
    // twice is still a self-join refusal
    refuse(mk + s"KEY (id) AS SELECT a.id FROM graft.`$src` a " +
      s"JOIN graft.`$src2` b ON a.id = b.id " +
      s"JOIN graft.`$src2` c ON a.id = c.id", "same table twice")
    refuse(mk + s"KEY (id) AS SELECT DISTINCT id FROM graft.`$src`",
      "row-pure")
    refuse(mk + s"KEY (id) AS SELECT id FROM graft.`$src` " +
      "ORDER BY id", "row-pure")
    refuse(mk + s"KEY (id) AS SELECT id FROM graft.`$src` LIMIT 5",
      "row-pure")
    refuse(mk + s"KEY (id) AS SELECT id, rank() OVER (ORDER BY v) " +
      s"AS r FROM graft.`$src`", "window")
    refuse(mk + s"KEY (id) AS SELECT id, (SELECT max(id) FROM " +
      s"graft.`$src`) AS m FROM graft.`$src`", "subquery")
    // GROUP BY shapes: wrong aliases, HAVING, avg all refuse with
    // the canonical shape; the right shape under KEY demands ROW KEY
    refuse(mk + s"ROW KEY (id) AS SELECT g, sum(v) AS total FROM " +
      s"graft.`$src` GROUP BY g", "delta-maintainable shape")
    refuse(mk + s"ROW KEY (id) AS SELECT g, sum(v) AS sum_v, " +
      s"count(v) AS cnt_v, count(*) AS n_rows FROM graft.`$src` " +
      "GROUP BY g HAVING sum(v) > 0", "delta-maintainable shape")
    refuse(mk + s"ROW KEY (id) AS SELECT g, avg(v) AS sum_v, " +
      s"count(v) AS cnt_v, count(*) AS n_rows FROM graft.`$src` " +
      "GROUP BY g", "delta-maintainable shape")
    // WHERE contract: nondeterministic predicates diverge the view,
    // qualified references can't re-resolve at refresh, unknown
    // columns refuse at CREATE
    val aggSel = "SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, " +
      "count(*) AS n_rows FROM "
    refuse(mk + s"ROW KEY (id) AS $aggSel graft.`$src` " +
      "WHERE rand() < 0.5 GROUP BY g", "nondeterministic")
    refuse(mk + s"ROW KEY (id) AS $aggSel graft.`$src` s " +
      "WHERE s.v > 0 GROUP BY g", "qualifier")
    refuse(mk + s"ROW KEY (id) AS $aggSel graft.`$src` " +
      "WHERE nope > 0 GROUP BY g", "not in the source")
    refuse(mk + s"KEY (id) AS SELECT g, sum(v) AS sum_v, count(v) " +
      s"AS cnt_v, count(*) AS n_rows FROM graft.`$src` GROUP BY g",
      "ROW KEY")
    refuse(mk + s"ROW KEY (id) AS SELECT id, v FROM graft.`$src`",
      "KEY (<key column>)")
    refuse(mk + s"KEY (nope) AS SELECT id FROM graft.`$src`",
      "not in the source")
    // lifecycle refusals: refresh_mv on a spec-less table, DROP
    // MATERIALIZED VIEW on a plain table
    refuse(s"CALL graft.system.refresh_mv('$src')",
      "not a materialized view")
    refuse(s"DROP MATERIALIZED VIEW graft.`$src`", "DROP TABLE")
    // CREATE refuses to adopt a standing plain table
    refuse(mk.replace(s"`$dst`", s"`$src`") +
      s"KEY (id) AS SELECT id FROM graft.`$src2`", "already exists")
  }

  test("MV PARTITIONED BY declares the destination layout; " +
      "mv.refresh-on-read turns an over-bound read into an " +
      "auto-refresh") {
    val src = fresh("mvp_src")
    val dst = fresh("mvp_dst")
    Versioned.commit((1L to 40L).map(i => (i, s"s${i % 4}", i))
      .toDF("id", "g", "v"), src)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` KEY (id) " +
      s"PARTITIONED BY (g) AS SELECT id, g, v * 2 AS w " +
      s"FROM graft.`$src`")
    // the layout is real (a declared identity transform on g) and
    // the spec travels in the properties
    assert(Versioned.currentTransform(spark, dst)
      .contains(Versioned.Transform.Identity("g")))
    assert(Versioned.properties(spark, dst)
      .get(DerivedTable.MvPartitionProp).contains("g"))
    // refresh keeps the layout and the content
    Versioned.append(Seq((41L, "s1", 100L)).toDF("id", "g", "v"), src)
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(Versioned.currentTransform(spark, dst)
      .contains(Versioned.Transform.Identity("g")))
    assert(spark.sql(s"SELECT w FROM graft.`$dst` WHERE id = 41")
      .head().getLong(0) == 200L)
    // refresh-on-read: bounded at lag 0 with the auto-refresh opt-in,
    // a post-append read REFRESHES (at resolution) instead of
    // refusing — and serves the fresh rows
    spark.sql(s"ALTER TABLE graft.`$dst` SET TBLPROPERTIES " +
      s"('${DerivedTable.MvMaxStalenessProp}'='0', " +
      s"'${DerivedTable.MvRefreshOnReadProp}'='true')")
    Versioned.append(Seq((42L, "s2", 7L)).toDF("id", "g", "v"), src)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dst`")
      .head().getLong(0) == 42L)
    // the refresh actually committed: the pin matches the source head
    val st = DerivedTable.refreshState(spark, dst)
    assert(st.exists(_._3 == 0))
    // an agg view refuses a non-group partition column eagerly
    val adst = fresh("mvp_adst")
    val e = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$adst` ROW KEY (id) " +
        s"PARTITIONED BY (v) AS SELECT g, sum(v) AS sum_v, " +
        s"count(v) AS cnt_v, count(*) AS n_rows FROM graft.`$src` " +
        "GROUP BY g"))
    assert(e.getMessage.contains("group columns"))
  }

  test("materialized views refuse engine-level writes: DML and " +
      "INSERT name the source-edit fix instead of diverging the view") {
    val src = fresh("mvro_src")
    val dst = fresh("mvro_dst")
    Versioned.commit((1L to 6L).map(i => (i, i * 10L))
      .toDF("id", "n"), src)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` KEY (id) " +
      s"AS SELECT id, n * 2 AS w FROM graft.`$src`")
    def refuse(sql: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage.contains("materialized view") &&
        e.getMessage.contains("refresh_mv"),
        s"expected the MV write refusal in: ${e.getMessage.take(300)}")
    }
    refuse(s"DELETE FROM graft.`$dst` WHERE id = 1")
    refuse(s"UPDATE graft.`$dst` SET w = 0 WHERE id = 1")
    refuse(s"MERGE INTO graft.`$dst` t USING graft.`$src` s " +
      "ON t.id = s.id WHEN MATCHED THEN DELETE")
    refuse(s"INSERT INTO graft.`$dst` VALUES (99, 0)")
    // the view still serves and still refreshes — the guard fired
    // BEFORE any write landed
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dst`")
      .head().getLong(0) == 6L)
    spark.sql(s"DELETE FROM graft.`$src` WHERE id = 6")
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dst`")
      .head().getLong(0) == 5L)
    // and the SOURCE (a plain table) of course still takes DML —
    // the guard keys on the MV spec, not on being graft-cataloged
    spark.sql(s"UPDATE graft.`$src` SET n = 1 WHERE id = 1")
  }

  test("join MV: a fact⋈dim enrichment view maintained from BOTH " +
      "changelogs — fact deltas, fk migration, dim relabels and " +
      "dim-key deletes") {
    val fact = fresh("jmv_fact"); val dim = fresh("jmv_dim")
    val dst = fresh("jmv_dst")
    Versioned.commit(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 5L),
      (4L, "c", 40L)).toDF("id", "fk", "v"), fact)
    Versioned.commit(Seq(("a", "A!"), ("b", "B!"), ("c", "C!"))
      .toDF("dk", "label"), dim)
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      s"KEY (id) AS SELECT f.id, f.fk, d.label, f.v " +
      s"FROM graft.`$fact` f JOIN graft.`$dim` d ON f.fk = d.dk " +
      s"WHERE f.v >= 10").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("join", 0, 1)))
    val v1 = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(v1.count() == 3 && // id 3 filtered (v=5)
      v1.filter($"id" === 1L).head().getString(2) == "A!")
    // the full spec travels in the properties
    val props = Versioned.properties(spark, dst)
    assert(props(DerivedTable.MvKindProp) == "join" &&
      props(DerivedTable.MvSourceProp) == fact &&
      props(DerivedTable.MvDimProp) == dim &&
      props(DerivedTable.MvKeyProp) == "id" &&
      props(DerivedTable.MvFkProp) == "fk" &&
      props(DerivedTable.MvDimKeyProp) == "dk" &&
      props(DerivedTable.MvJoinTypeProp) == "inner")
    // fact-side delta: a new row, an update MIGRATING fk a→b, an
    // update falling below the filter bar, a key delete — one batch
    Versioned.applyChanges(spark, fact,
      upserts = Seq((5L, "c", 50L), (1L, "b", 15L), (2L, "b", 3L))
        .toDF("id", "fk", "v"),
      deleteKeys = Seq(4L).toDF("id"), key = "id")
    val r1 = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(r1.map(_.toSeq).toSeq == Seq(Seq("join", 1, 2)))
    val v2 = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(v2.count() == 2 && // ids 1 (migrated to b) and 5
      v2.filter($"id" === 1L).head().getString(2) == "B!" &&
      v2.filter($"id" === 5L).head().getString(2) == "C!")
    // dim-side delta ONLY: relabel b, delete c — the affected fact
    // rows re-derive without any fact event (the fact range no-ops)
    Versioned.applyChanges(spark, dim,
      upserts = Seq(("b", "B2")).toDF("dk", "label"),
      deleteKeys = Seq("c").toDF("dk"), key = "dk")
    val r2 = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(r2.map(_.toSeq).toSeq == Seq(Seq("join", 2, 2)))
    val v3 = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(v3.count() == 1 && // id 5 left the inner join with dim c
      v3.filter($"id" === 1L).head().getString(2) == "B2")
    // row-for-row against the full recompute
    val expect = spark.sql(s"SELECT f.id, f.fk, d.label, f.v " +
      s"FROM graft.`$fact` f JOIN graft.`$dim` d ON f.fk = d.dk " +
      s"WHERE f.v >= 10")
    assert(DerivedTable.bagEqual(v3, expect))
    // no-op refresh holds the destination version
    val vBefore = Versioned.currentVersion(spark, dst)
    val rn = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(rn.head.getInt(1) == rn.head.getInt(2) &&
      Versioned.currentVersion(spark, dst) == vBefore)
    // metadata-only source commits: the refresh advances BOTH pins
    // with a note-only commit (no data churn), then no-ops again
    Versioned.commitNote(spark, fact, "audit-fact")
    Versioned.commitNote(spark, dim, "audit-dim")
    spark.sql(s"CALL graft.system.refresh_mv('$dst')").collect()
    assert(Versioned.read(spark, dst).count() == 1)
    val rn2 = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(rn2.head.getInt(1) == rn2.head.getInt(2))
  }

  test("join MV: composite join keys — an AND of equalities keys " +
      "the tuple; uniqueness is a tuple invariant") {
    val fact = fresh("jmvc_fact"); val dim = fresh("jmvc_dim")
    val dst = fresh("jmvc_dst")
    Versioned.commit(Seq((1L, "a", 1L, 10L), (2L, "a", 2L, 20L),
      (3L, "b", 1L, 30L)).toDF("id", "fk1", "fk2", "v"), fact)
    // dk1 alone is NOT unique — only the (dk1, dk2) tuple is: the
    // composite shape is load-bearing, not cosmetic
    Versioned.commit(Seq(("a", 1L, "A1"), ("a", 2L, "A2"),
      ("b", 1L, "B1")).toDF("dk1", "dk2", "label"), dim)
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      s"KEY (id) AS SELECT f.id, d.label, f.v FROM graft.`$fact` f " +
      s"JOIN graft.`$dim` d ON f.fk1 = d.dk1 AND f.fk2 = d.dk2")
      .collect()
    assert(created.head.getString(0) == "join")
    val props = Versioned.properties(spark, dst)
    assert(props(DerivedTable.MvFkProp) == "fk1,fk2" &&
      props(DerivedTable.MvDimKeyProp) == "dk1,dk2")
    val v1 = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(v1.count() == 3 &&
      v1.filter($"id" === 2L).head().getString(1) == "A2")
    // dim tuple edits: relabel (a,2), delete (b,1) — one batch keyed
    // on the TUPLE
    Versioned.applyChangesKeys(spark, dim,
      upserts = Seq(("a", 2L, "A2x")).toDF("dk1", "dk2", "label"),
      deleteKeys = Seq(("b", 1L)).toDF("dk1", "dk2"),
      keyCols = Seq("dk1", "dk2"))
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    val v2 = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(v2.count() == 2 && // id 3 left the inner join
      v2.filter($"id" === 2L).head().getString(1) == "A2x")
    // a fact edit migrating HALF the tuple re-derives correctly
    Versioned.upsert(spark, fact,
      Seq((1L, "a", 2L, 10L)).toDF("id", "fk1", "fk2", "v"), "id")
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(spark.sql(s"SELECT * FROM graft.`$dst`")
      .filter($"id" === 1L).head().getString(1) == "A2x")
    val expect = spark.sql(s"SELECT f.id, d.label, f.v FROM " +
      s"graft.`$fact` f JOIN graft.`$dim` d ON f.fk1 = d.dk1 " +
      s"AND f.fk2 = d.dk2")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$dst`"), expect))
    // a TUPLE duplicate refuses at the refresh that introduced it
    Versioned.append(Seq(("a", 2L, "A2dup")).toDF("dk1", "dk2",
      "label"), dim)
    val e = intercept[Exception](spark.sql(
      s"CALL graft.system.refresh_mv('$dst')").collect())
    assert(e.getMessage.contains("not unique"))
  }

  test("join MV: LEFT OUTER keeps unmatched facts with null dim " +
      "columns; a dim insert fills them, a dim delete nulls them " +
      "back") {
    val fact = fresh("jmvl_fact"); val dim = fresh("jmvl_dim")
    val dst = fresh("jmvl_dst")
    Versioned.commit(Seq((1L, "a", 10L), (2L, "zz", 20L))
      .toDF("id", "fk", "v"), fact)
    Versioned.commit(Seq(("a", "A!")).toDF("dk", "label"), dim)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` KEY (id) AS " +
      s"SELECT f.id, d.label, f.v FROM graft.`$fact` f LEFT JOIN " +
      s"graft.`$dim` d ON f.fk = d.dk")
    assert(Versioned.properties(spark, dst)(
      DerivedTable.MvJoinTypeProp) == "left")
    val v1 = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(v1.count() == 2 && v1.filter($"id" === 2L).head().isNullAt(1))
    // a dim INSERT is a dim delta too: the unmatched fact re-derives
    Versioned.append(Seq(("zz", "Z!")).toDF("dk", "label"), dim)
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(spark.sql(s"SELECT * FROM graft.`$dst`")
      .filter($"id" === 2L).head().getString(1) == "Z!")
    // a dim DELETE under LEFT OUTER nulls the enrichment, keeps the row
    Versioned.deleteRows(spark, dim, Seq("a").toDF("dk"))
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    val v3 = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(v3.count() == 2 && v3.filter($"id" === 1L).head().isNullAt(1))
  }

  test("join MV refusals: shape, dim-key uniqueness, foreign-keyed " +
      "dim tombstones, staleness over the laggier source") {
    val fact = fresh("jmvr_fact"); val dim = fresh("jmvr_dim")
    val dst = fresh("jmvr_dst")
    Versioned.commit(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("id", "fk", "v"), fact)
    Versioned.commit(Seq(("a", "A!"), ("b", "B!")).toDF("dk", "label"),
      dim)
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage.contains(frag),
        s"expected '$frag' in: ${e.getMessage.take(300)}")
    }
    val mk = s"CREATE MATERIALIZED VIEW graft.`$dst` "
    val sel = s"AS SELECT f.id, d.label FROM graft.`$fact` f "
    refuse(mk + s"KEY (id) $sel RIGHT JOIN graft.`$dim` d " +
      "ON f.fk = d.dk", "join materialized view")
    refuse(mk + s"KEY (id) $sel JOIN graft.`$dim` d ON f.fk < d.dk",
      "join materialized view")
    refuse(mk + s"KEY (id) $sel JOIN graft.`$dim` d ON fk = dk",
      "join materialized view")
    refuse(mk + s"KEY (id) AS SELECT f.id FROM graft.`$fact` f " +
      s"JOIN graft.`$fact` g ON f.fk = g.fk", "self-join")
    refuse(mk + s"ROW KEY (id) $sel JOIN graft.`$dim` d " +
      "ON f.fk = d.dk", "ROW KEY is the aggregate-view spelling")
    refuse(mk + s"KEY (nope) $sel JOIN graft.`$dim` d ON f.fk = d.dk",
      "not in the source")
    // nondeterministic queries diverge an incrementally maintained
    // view (each refresh re-samples over touched rows only) — refused
    // at CREATE for every kind, WHERE and SELECT alike
    refuse(mk + s"KEY (id) AS SELECT f.id, d.label FROM " +
      s"graft.`$fact` f JOIN graft.`$dim` d ON f.fk = d.dk " +
      "WHERE rand() < 0.5", "nondeterministic")
    refuse(mk + s"KEY (id) AS SELECT id, rand() AS r FROM " +
      s"graft.`$fact`", "nondeterministic")
    refuse(mk + s"KEY (id) $sel JOIN graft.`$dim` d ON f.nope = d.dk",
      "not in the fact table")
    refuse(mk + s"KEY (id) $sel JOIN graft.`$dim` d ON f.fk = d.nope",
      "not in the dim table")
    // a non-unique dim refuses at BOOTSTRAP (the view stores one row
    // per fact key — a 1:N match can't)
    val dupDim = fresh("jmvr_dupdim")
    Versioned.commit(Seq(("a", "A1"), ("a", "A2")).toDF("dk", "label"),
      dupDim)
    refuse(mk + s"KEY (id) $sel JOIN graft.`$dupDim` d " +
      "ON f.fk = d.dk", "not unique")
    // build the good view, then poison the dim INCREMENTALLY: the
    // duplicate refuses at the refresh that introduced it
    spark.sql(mk + s"KEY (id) $sel JOIN graft.`$dim` d ON f.fk = d.dk")
    Versioned.append(Seq(("a", "A2")).toDF("dk", "label"), dim)
    refuse(s"CALL graft.system.refresh_mv('$dst')", "not unique")
    Versioned.deleteRows(spark, dim, Seq("A2").toDF("label"))
    // ^ heals the duplicate with tombstones keyed on 'label' (not the
    // dim key): the net diff carries the deleted row whole, so the
    // refresh equals a full recompute
    spark.sql(s"CALL graft.system.refresh_mv('$dst')").collect()
    assert(DerivedTable.bagEqual(spark.sql(s"SELECT * FROM graft.`$dst`"),
      spark.sql(s"SELECT f.id, d.label FROM graft.`$fact` f " +
        s"JOIN graft.`$dim` d ON f.fk = d.dk")))
    // a dim delete keyed RIGHT clears both: the dup and its tombstone
    // history replay once the range reads clean
    val dst2 = fresh("jmvr_dst2")
    val dim2 = fresh("jmvr_dim2")
    Versioned.commit(Seq(("a", "A!"), ("b", "B!")).toDF("dk", "label"),
      dim2)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst2` KEY (id) " +
      s"$sel JOIN graft.`$dim2` d ON f.fk = d.dk")
    // staleness gates on the LAGGIER source: a dim-only commit trips
    // a zero bound, naming the dim pin; refresh clears it
    spark.sql(s"ALTER TABLE graft.`$dst2` SET TBLPROPERTIES " +
      s"('${DerivedTable.MvMaxStalenessProp}'='0')")
    Versioned.commitNote(spark, dim2, "audit-marker")
    refuse(s"SELECT * FROM graft.`$dst2`", "dim=v")
    spark.sql(s"CALL graft.system.refresh_mv('$dst2')")
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dst2`")
      .head().getLong(0) == 2L)
    // ...and the per-leg freshness surface stays coherent: the src
    // trio pairs with the src pin, the dim trio names the dim leg
    val shown = spark.sql(s"SHOW TBLPROPERTIES graft.`$dst2`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.contains("graft.mv.dim_head_version") &&
      shown.get("graft.mv.staleness_versions").contains("0"))
    // refresh-on-read through the DIM leg: a dim DATA edit makes the
    // view stale; the next catalog read advances it and serves the
    // relabel without a manual refresh
    spark.sql(s"ALTER TABLE graft.`$dst2` SET TBLPROPERTIES " +
      s"('${DerivedTable.MvRefreshOnReadProp}'='true')")
    Versioned.upsert(spark, dim2,
      Seq(("a", "A-fresh")).toDF("dk", "label"), "dk")
    assert(spark.sql(s"SELECT * FROM graft.`$dst2`")
      .filter($"id" === 1L).head().getString(1) == "A-fresh")
  }

  test("expression group keys: date_trunc buckets delta-maintain " +
      "across bucket moves; GROUP BY-alias spelling; avg spelling") {
    val src = fresh("bexpr_src")
    val dst = fresh("bexpr_dst")
    val dst2 = fresh("bexpr_dst2")
    // 20 rows spread over 4 days, several per day
    Versioned.commit(
      (1L to 20L).map(i =>
          (i, f"2024-03-${i % 4 + 1}%02d ${i % 9}%02d:15:00", i))
        .toDF("id", "tss", "v")
        .select($"id", to_timestamp($"tss").as("ts"), $"v"), src)
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      "ROW KEY (id) AS SELECT date_trunc('DAY', ts) AS day, " +
      "sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS n_rows " +
      s"FROM graft.`$src` GROUP BY date_trunc('DAY', ts)").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("agg", 0, 1)))
    def expect = spark.sql("SELECT date_trunc('DAY', ts) AS day, " +
      "sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS n_rows " +
      s"FROM graft.`$src` GROUP BY date_trunc('DAY', ts)")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$dst`"), expect))
    // the bucket expression travels with the spec
    val props = Versioned.properties(spark, dst)
    assert(props(DerivedTable.MvGroupProp) == "day" &&
      props(DerivedTable.MvGroupExprPrefix + "day")
        .contains("date_trunc"))
    // one atomic batch MOVES rows between buckets (ids 1-2 jump to a
    // brand-new day: old buckets shrink, a bucket row is BORN), adds
    // a row to a standing bucket, and deletes a row
    Versioned.applyChanges(spark, src,
      upserts = spark.sql("SELECT id, timestamp'2024-03-09 12:00:00'" +
          s" AS ts, v FROM graft.`$src` WHERE id <= 2")
        .unionByName(Seq((21L, "2024-03-02 01:00:00", 100L))
          .toDF("id", "tss", "v")
          .select($"id", to_timestamp($"tss").as("ts"), $"v")),
      deleteKeys = Seq(8L).toDF("id"), key = "id")
    val r = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(r.map(_.toSeq).toSeq == Seq(Seq("agg", 1, 2)))
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$dst`"), expect))
    // GROUP BY-alias spelling + the avg spelling, on the same source
    val c2 = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst2` " +
      "ROW KEY (id) AS SELECT date_trunc('DAY', ts) AS day, " +
      "sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS n_rows, " +
      s"avg(v) AS avg_v FROM graft.`$src` GROUP BY day").collect()
    assert(c2.map(_.toSeq).toSeq == Seq(Seq("agg", 0, 2)))
    def expect2 = spark.sql("SELECT date_trunc('DAY', ts) AS day, " +
      "sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS n_rows, " +
      s"avg(v) AS avg_v FROM graft.`$src` GROUP BY 1")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$dst2`"), expect2))
    assert(Versioned.properties(spark, dst2)
      .get(DerivedTable.MvAvgProp).contains("v"))
    // the avg column stays the exact stored quotient through a
    // delta refresh that nulls a value (cnt channel) and deletes
    Versioned.applyChanges(spark, src,
      upserts = spark.sql("SELECT id, ts, CAST(NULL AS BIGINT) AS v" +
        s" FROM graft.`$src` WHERE id = 3"),
      deleteKeys = Seq(21L).toDF("id"), key = "id")
    spark.sql(s"CALL graft.system.refresh_mv('$dst2')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$dst2`"), expect2))
    // contract refusals: a nondeterministic bucket diverges the
    // view; a qualified reference can't re-resolve at refresh
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains(frag),
        s"expected '$frag' in: ${e.getMessage.take(300)}")
    }
    val dst3 = fresh("bexpr_dst3")
    refuse(s"CREATE MATERIALIZED VIEW graft.`$dst3` ROW KEY (id) " +
      "AS SELECT CAST(rand() * 4 AS INT) AS b, sum(v) AS sum_v, " +
      "count(v) AS cnt_v, count(*) AS n_rows " +
      s"FROM graft.`$src` GROUP BY b", "nondeterministic")
    refuse(s"CREATE MATERIALIZED VIEW graft.`$dst3` ROW KEY (id) " +
      "AS SELECT date_trunc('DAY', s.ts) AS day, sum(v) AS sum_v, " +
      "count(v) AS cnt_v, count(*) AS n_rows " +
      s"FROM graft.`$src` s GROUP BY day", "qualifier")
    // a bucket alias shadowing a source column would change what a
    // stored WHERE sees at refresh time
    refuse(s"CREATE MATERIALIZED VIEW graft.`$dst3` ROW KEY (id) " +
      "AS SELECT date_trunc('DAY', ts) AS ts, sum(v) AS sum_v, " +
      "count(v) AS cnt_v, count(*) AS n_rows " +
      s"FROM graft.`$src` GROUP BY ts", "shadows")
    // the explicit-spec SQL spelling takes the same bucket + avg:
    // group_exprs aligns positionally with group_by
    val dst4 = fresh("bexpr_dst4")
    val pr = spark.sql(s"CALL graft.system.refresh_agg('$src', " +
      s"'$dst4', row_key => 'id', group_by => 'day', " +
      "group_exprs => \"date_trunc('DAY', ts)\", value => 'v', " +
      "with_avg => 'true')").head()
    assert(pr.getInt(0) == 0 && pr.getInt(1) > 0)
    assert(DerivedTable.bagEqual(Versioned.read(spark, dst4),
      spark.sql("SELECT date_trunc('DAY', ts) AS day, sum(v) AS " +
        "sum_v, count(v) AS cnt_v, count(*) AS n_rows, avg(v) AS " +
        s"avg_v FROM graft.`$src` GROUP BY 1")))
  }

  test("transitive staleness: a gold view over a lagging silver " +
      "reports the lineage lag, bounded reads refuse on it, and " +
      "cascade refresh clears the chain upstream-first") {
    val src = fresh("tchain_src")
    val silver = fresh("tchain_silver")
    val gold = fresh("tchain_gold")
    Versioned.commit((1L to 30L).map(i => (i, s"g${i % 3}", i))
      .toDF("id", "g", "v"), src)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$silver` KEY (id) " +
      s"AS SELECT id, g, v * 2 AS w FROM graft.`$src` WHERE v >= 3")
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` ROW KEY (id) " +
      s"AS SELECT g, sum(w) AS sum_w, count(w) AS cnt_w, " +
      s"count(*) AS n_rows FROM graft.`$silver` GROUP BY g")
    // the fact advances; silver (and so gold's LINEAGE) goes stale
    // while gold-vs-silver lag stays 0
    Versioned.append(Seq((31L, "g1", 500L)).toDF("id", "g", "v"), src)
    def shown() = spark.sql(s"SHOW TBLPROPERTIES graft.`$gold`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val s1 = shown()
    assert(s1.get("graft.mv.staleness_versions").contains("0"))
    assert(s1.get("graft.mv.transitive_staleness_versions")
      .contains("1"))
    // a bounded gold read refuses ON the transitive leg — the lag a
    // reader actually experiences, not the own-pin lag of 0
    spark.sql(s"ALTER TABLE graft.`$gold` SET TBLPROPERTIES " +
      s"('${DerivedTable.MvMaxStalenessProp}'='0')")
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM graft.`$gold`").collect())
    assert(e.getMessage.contains(DerivedTable.MvMaxStalenessProp) &&
      e.getMessage.contains("src.src"),
      s"expected a src.src transitive refusal: ${e.getMessage.take(300)}")
    // an own-only refresh no-ops (gold-vs-silver pin already fresh)
    // and CANNOT clear the transitive lag
    val r0 = spark.sql(s"CALL graft.system.refresh_mv('$gold')")
      .head()
    assert(r0.getInt(1) == r0.getInt(2))
    assert(intercept[Exception](
      spark.sql(s"SELECT * FROM graft.`$gold`").collect())
      .getMessage.contains(DerivedTable.MvMaxStalenessProp))
    // cascade refreshes silver FIRST, then gold — both lags clear,
    // the read serves, and the states equal their recomputes
    val r1 = spark.sql(s"CALL graft.system.refresh_mv('$gold', " +
      "cascade => 'true')").head()
    assert(r1.getInt(1) < r1.getInt(2))
    val s2 = shown()
    assert(s2.get("graft.mv.staleness_versions").contains("0") &&
      s2.get("graft.mv.transitive_staleness_versions").contains("0"))
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$gold`"),
      spark.sql(s"SELECT g, sum(w) AS sum_w, count(w) AS cnt_w, " +
        s"count(*) AS n_rows FROM (SELECT id, g, v * 2 AS w FROM " +
        s"graft.`$src` WHERE v >= 3) GROUP BY g")))
    // refresh-on-read cascades too: stale the chain again, opt in,
    // and one catalog read clears BOTH hops
    Versioned.append(Seq((32L, "g2", 700L)).toDF("id", "g", "v"), src)
    spark.sql(s"ALTER TABLE graft.`$gold` SET TBLPROPERTIES " +
      s"('${DerivedTable.MvRefreshOnReadProp}'='true')")
    assert(spark.sql(s"SELECT sum(n_rows) FROM graft.`$gold`")
      .head().getLong(0) ==
      spark.sql(s"SELECT count(*) FROM graft.`$src` WHERE v >= 3")
        .head().getLong(0))
    assert(shown().get("graft.mv.transitive_staleness_versions")
      .contains("0"))
  }

  test("star join MV: fact + two dims, each leg's edits propagate " +
      "— fact appends, a dim relabel, a dim-key delete; snowflake " +
      "ON clauses auto-chain, expression outputs included") {
    val fact = fresh("star_fact")
    val d1 = fresh("star_d1")
    val d2 = fresh("star_d2")
    val dst = fresh("star_dst")
    Versioned.commit((1L to 24L).map(i =>
        (i, s"c${i % 3}", s"r${i % 4}", i * 10L))
      .toDF("id", "cat", "region", "v"), fact)
    Versioned.commit(Seq(("c0", "CAT0"), ("c1", "CAT1"), ("c2", "CAT2"))
      .toDF("cat", "cat_label"), d1)
    Versioned.commit((0 to 3).map(i => (s"r$i", s"REG$i"))
      .toDF("region", "reg_label"), d2)
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      s"KEY (id) AS SELECT f.id, f.cat, c.cat_label, r.reg_label, " +
      s"f.v FROM graft.`$fact` f JOIN graft.`$d1` c " +
      s"ON f.cat = c.cat LEFT JOIN graft.`$d2` r " +
      s"ON f.region = r.region WHERE f.v >= 20").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("join", 0, 1)))
    // the spec stores per-dim fragments in FROM order
    val props = Versioned.properties(spark, dst)
    assert(props(DerivedTable.MvDimProp) == s"$d1;$d2" &&
      props(DerivedTable.MvFkProp) == "cat;region" &&
      props(DerivedTable.MvDimKeyProp) == "cat;region" &&
      props(DerivedTable.MvJoinTypeProp) == "inner;left")
    def expect = spark.sql(s"SELECT f.id, f.cat, c.cat_label, " +
      s"r.reg_label, f.v FROM graft.`$fact` f JOIN graft.`$d1` c " +
      s"ON f.cat = c.cat LEFT JOIN graft.`$d2` r " +
      s"ON f.region = r.region WHERE f.v >= 20")
    assert(DerivedTable.bagEqual(Versioned.read(spark, dst), expect))
    // one batch per leg: a fact append, a d1 relabel (its facts must
    // re-derive), a d2 key delete (LEFT leg nulls those labels) —
    // then ONE argument-free refresh folds all three changelogs
    Versioned.append(Seq((25L, "c1", "r9", 990L))
      .toDF("id", "cat", "region", "v"), fact)
    Versioned.upsert(spark, d1,
      Seq(("c1", "RELABELED")).toDF("cat", "cat_label"), "cat")
    Versioned.deleteRows(spark, d2, Seq("r2").toDF("region"))
    val r = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(r.map(_.toSeq).toSeq == Seq(Seq("join", 1, 2)))
    val got = Versioned.read(spark, dst)
    assert(DerivedTable.bagEqual(got, expect))
    assert(got.filter($"id" === 25L).head().getString(2) ==
      "RELABELED")
    assert(got.filter($"cat" === "c1")
      .filter($"cat_label" =!= "RELABELED").isEmpty)
    // the deleted region's facts stay (LEFT) with a null label
    assert(got.filter($"id" === 6L).head().isNullAt(3))
    // idle legs cost nothing: a no-op refresh holds every pin
    val r2 = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .head()
    assert(r2.getInt(1) == r2.getInt(2))
    // a snowflake with EXPRESSION outputs auto-chains too (r18): the
    // cross-hop rewrite relocates every 2-part reference exactly
    val dst2 = fresh("star_dst2")
    val snowSel = s"SELECT f.id, f.v * 2 AS w, r.reg_label " +
      s"FROM graft.`$fact` f JOIN graft.`$d1` c ON f.cat = c.cat " +
      s"JOIN graft.`$d2` r ON c.cat = r.region"
    val c2 = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst2` " +
      s"KEY (id) AS $snowSel").head()
    assert(c2.getString(0) == "join")
    // no cat value matches a region key yet — the view is empty
    assert(Versioned.read(spark, dst2).count() == 0)
    // a d2 key equal to a d1 cat value creates matches through the
    // SECOND hop; the expression output computes on arrival
    Versioned.upsert(spark, d2,
      Seq(("c1", "VIA-C1")).toDF("region", "reg_label"), "region")
    spark.sql(s"CALL graft.system.refresh_mv('$dst2')")
    assert(DerivedTable.bagEqual(Versioned.read(spark, dst2),
      spark.sql(snowSel)))
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$dst2`")
  }

  test("snowflake join MV auto-chains a hidden silver: fact⋈d1 " +
      "materializes, the view joins it to d2 — edits on all three " +
      "legs propagate through one refresh") {
    val fact = fresh("snow_fact")
    val d1 = fresh("snow_d1")
    val d2 = fresh("snow_d2")
    val dst = fresh("snow_dst")
    Versioned.commit((1L to 20L).map(i => (i, s"c${i % 3}", i * 10L))
      .toDF("id", "cat", "v"), fact)
    Versioned.commit(Seq(("c0", "g0"), ("c1", "g1"), ("c2", "g0"))
      .toDF("cat", "grp"), d1)
    Versioned.commit(Seq(("g0", "G-ZERO"), ("g1", "G-ONE"))
      .toDF("grp", "glabel"), d2)
    def sel = s"SELECT f.id, f.v, c.grp, g.glabel " +
      s"FROM graft.`$fact` f JOIN graft.`$d1` c ON f.cat = c.cat " +
      s"JOIN graft.`$d2` g ON c.grp = g.grp WHERE f.v >= 20"
    val created = spark.sql(s"CREATE MATERIALIZED VIEW " +
      s"graft.`$dst` KEY (id) AS $sel").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("join", 0, 1)))
    // the hidden silver materializes fact⋈d1 beside the view; the
    // view's spec reads the silver as its fact and auto-cascades
    val silver = dst + ".snow"
    assert(Versioned.properties(spark, silver)
      .get(DerivedTable.MvHiddenSilverOfProp).contains(dst))
    val props = Versioned.properties(spark, dst)
    assert(props.get(DerivedTable.MvSourceProp).contains(silver) &&
      props.get(DerivedTable.MvAutoChainProp).contains("true"))
    assert(DerivedTable.bagEqual(Versioned.read(spark, dst),
      spark.sql(sel)))
    // one edit per leg, ONE refresh: a fact append, a d1 re-group
    // (c2's rows move from G-ZERO to G-ONE through BOTH hops), and a
    // d2 relabel (second hop only)
    Versioned.append(Seq((21L, "c1", 990L)).toDF("id", "cat", "v"),
      fact)
    Versioned.upsert(spark, d1,
      Seq(("c2", "g1")).toDF("cat", "grp"), "cat")
    Versioned.upsert(spark, d2,
      Seq(("g0", "G-Z2")).toDF("grp", "glabel"), "grp")
    val r = spark.sql(s"CALL graft.system.refresh_mv('$dst')").head()
    assert(r.getString(0) == "join")
    val got = Versioned.read(spark, dst)
    assert(DerivedTable.bagEqual(got, spark.sql(sel)))
    assert(got.filter($"id" === 2L).head().getString(3) == "G-ONE")
    assert(got.filter($"id" === 3L).head().getString(3) == "G-Z2")
    assert(got.filter($"id" === 21L).head().getString(3) == "G-ONE")
    // staleness surfaces the transitive lineage (view → silver →
    // fact/d1), all at lag 0 after the refresh
    val shown = spark.sql(s"SHOW TBLPROPERTIES graft.`$dst`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("graft.mv.transitive_staleness_versions")
      .contains("0"))
    // DROP removes the view AND its hidden silver; the silver's own
    // DROP refuses naming the owner
    val e = intercept[Exception](spark.sql(
      s"DROP MATERIALIZED VIEW graft.`$silver`"))
    assert(e.getMessage.contains("hidden silver"))
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$dst`")
    assert(Versioned.currentVersion(spark, dst) == 0 &&
      Versioned.currentVersion(spark, silver) == 0)
    // a SELF-join still refuses (same table twice)
    val dst3 = fresh("snow_dst3")
    val e2 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$dst3` KEY (id) AS " +
        s"SELECT f.id, f.v FROM graft.`$fact` f " +
        s"JOIN graft.`$d1` c ON f.cat = c.cat " +
        s"JOIN graft.`$d2` g ON c.grp = g.grp " +
        s"JOIN graft.`$fact` x ON g.glabel = x.cat"))
    assert(e2.getMessage.contains("twice"))
  }

  test("deep and MIXED plain-join snowflake trees auto-chain: a " +
      "4-relation chain peels two hidden hops; a star leg beside a " +
      "snowflaked leg peels one — edits propagate through every hop") {
    val fact = fresh("tree_fact")
    val d1 = fresh("tree_d1")
    val d2 = fresh("tree_d2")
    val d3 = fresh("tree_d3")
    val dm = fresh("tree_dm")
    Versioned.commit((1L to 20L).map(i =>
        (i, s"c${i % 3}", s"m${i % 2}", i * 10L))
      .toDF("id", "cat", "mid", "v"), fact)
    Versioned.commit(Seq(("c0", "g0"), ("c1", "g1"), ("c2", "g0"))
      .toDF("cat", "grp"), d1)
    Versioned.commit(Seq(("g0", "r0"), ("g1", "r1"))
      .toDF("grp", "reg"), d2)
    Versioned.commit(Seq(("r0", "R-ZERO"), ("r1", "R-ONE"))
      .toDF("reg", "rlabel"), d3)
    Versioned.commit(Seq(("m0", "EVEN"), ("m1", "ODD"))
      .toDF("mid", "mlabel"), dm)
    // 4-relation LINEAR chain: two hidden levels (.snow, .snow2)
    val deep = fresh("tree_deep")
    def deepSel = s"SELECT f.id, f.v * 2 AS w, r.rlabel " +
      s"FROM graft.`$fact` f JOIN graft.`$d1` c ON f.cat = c.cat " +
      s"JOIN graft.`$d2` g ON c.grp = g.grp " +
      s"JOIN graft.`$d3` r ON g.reg = r.reg"
    val cr = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$deep` " +
      s"KEY (id) AS $deepSel").head()
    assert(cr.getString(0) == "join")
    assert(Versioned.currentVersion(spark, deep + ".snow") > 0 &&
      Versioned.currentVersion(spark, deep + ".snow2") > 0)
    assert(DerivedTable.bagEqual(Versioned.read(spark, deep),
      spark.sql(deepSel)))
    // a d3 relabel travels three hops through ONE cascaded refresh
    Versioned.upsert(spark, d3,
      Seq(("r0", "R-Z2")).toDF("reg", "rlabel"), "reg")
    spark.sql(s"CALL graft.system.refresh_mv('$deep')")
    val gotDeep = Versioned.read(spark, deep)
    assert(DerivedTable.bagEqual(gotDeep, spark.sql(deepSel)))
    assert(gotDeep.filter($"id" === 3L).head().getString(2) == "R-Z2")
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$deep`")
    assert(Versioned.currentVersion(spark, deep) == 0 &&
      Versioned.currentVersion(spark, deep + ".snow") == 0 &&
      Versioned.currentVersion(spark, deep + ".snow2") == 0)
    // MIXED tree: a star leg (dm ON fact) beside a snowflaked leg
    // (d2 ON d1) — one hidden level, the star leg survives the
    // rewrite onto the silver
    val mixed = fresh("tree_mixed")
    def mixSel = s"SELECT f.id, m.mlabel, g.reg, f.v " +
      s"FROM graft.`$fact` f JOIN graft.`$d1` c ON f.cat = c.cat " +
      s"JOIN graft.`$dm` m ON f.mid = m.mid " +
      s"JOIN graft.`$d2` g ON c.grp = g.grp WHERE f.v >= 20"
    val cm = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mixed` " +
      s"KEY (id) AS $mixSel").head()
    assert(cm.getString(0) == "join")
    assert(Versioned.currentVersion(spark, mixed + ".snow") > 0 &&
      Versioned.currentVersion(spark, mixed + ".snow2") == 0)
    assert(DerivedTable.bagEqual(Versioned.read(spark, mixed),
      spark.sql(mixSel)))
    // edits on the STAR leg (dm relabel) and the CHAIN leg (d2
    // re-region) propagate through one refresh; a fact append rides
    // through both
    Versioned.append(
      Seq((21L, "c1", "m0", 990L)).toDF("id", "cat", "mid", "v"),
      fact)
    Versioned.upsert(spark, dm,
      Seq(("m0", "EVEN2")).toDF("mid", "mlabel"), "mid")
    Versioned.upsert(spark, d2,
      Seq(("g1", "r9")).toDF("grp", "reg"), "grp")
    spark.sql(s"CALL graft.system.refresh_mv('$mixed')")
    val gotMix = Versioned.read(spark, mixed)
    assert(DerivedTable.bagEqual(gotMix, spark.sql(mixSel)))
    assert(gotMix.filter($"id" === 21L).head().getString(1) ==
      "EVEN2")
    assert(gotMix.filter($"id" === 4L).head().getString(2) == "r9")
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$mixed`")
    assert(Versioned.currentVersion(spark, mixed) == 0 &&
      Versioned.currentVersion(spark, mixed + ".snow") == 0)
  }

  test("aggregate-over-join MV: invertible shapes maintain the gold " +
      "DIRECTLY (no silver, one commit per refresh); extrema shapes " +
      "auto-chain a hidden silver; DROP removes what exists") {
    val fact = fresh("aj_fact")
    val dim = fresh("aj_dim")
    val gold = fresh("aj_gold")
    Versioned.commit((1L to 30L).map(i => (i, s"c${i % 3}", i * 10L))
      .toDF("id", "cat", "v"), fact)
    Versioned.commit(Seq(("c0", "L0"), ("c1", "L1"), ("c2", "L2"))
      .toDF("cat", "label"), dim)
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` " +
      s"ROW KEY (id) AS SELECT d.label, sum(f.v) AS sum_v, " +
      s"count(f.v) AS cnt_v, count(*) AS n_rows, avg(f.v) AS avg_v " +
      s"FROM graft.`$fact` f JOIN graft.`$dim` d ON f.cat = d.cat " +
      s"WHERE f.v >= 50 GROUP BY d.label").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("aggjoin", 0, 1)))
    def expect = spark.sql(s"SELECT d.label, sum(f.v) AS sum_v, " +
      s"count(f.v) AS cnt_v, count(*) AS n_rows, avg(f.v) AS avg_v " +
      s"FROM graft.`$fact` f JOIN graft.`$dim` d ON f.cat = d.cat " +
      s"WHERE f.v >= 50 GROUP BY d.label")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$gold`"), expect))
    // sum/cnt/avg are INVERTIBLE: the gold maintains directly — no
    // hidden silver exists, the spec says kind=aggjoin and carries
    // the synthesized slice text
    val silver = gold + ".silver"
    assert(Versioned.currentVersion(spark, silver) == 0)
    val gprops = Versioned.properties(spark, gold)
    assert(gprops.get(DerivedTable.MvKindProp).contains("aggjoin") &&
      gprops.get(DerivedTable.MvSliceProp).exists(_.contains("JOIN")))
    // edits on BOTH legs: a fact append, and a dim relabel that
    // MOVES c1's rows from L1 into L0's label group (two groups
    // patch, one group row dies) — ONE refresh_mv, ONE destination
    // commit (v1 → v2, no intermediate table anywhere)
    Versioned.append(Seq((31L, "c1", 990L)).toDF("id", "cat", "v"),
      fact)
    Versioned.upsert(spark, dim,
      Seq(("c1", "L0")).toDF("cat", "label"), "cat")
    val r = spark.sql(s"CALL graft.system.refresh_mv('$gold')")
      .collect()
    assert(r.map(_.toSeq).toSeq == Seq(Seq("aggjoin", 1, 2)))
    assert(Versioned.currentVersion(spark, gold) == 2)
    val got = spark.sql(s"SELECT * FROM graft.`$gold`")
    assert(DerivedTable.bagEqual(got, expect))
    assert(got.filter($"label" === "L1").isEmpty)
    // staleness reads 0 after the refresh (both legs pinned at head)
    val shown = spark.sql(s"SHOW TBLPROPERTIES graft.`$gold`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("graft.mv.staleness_versions").contains("0"))
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$gold`")
    assert(Versioned.currentVersion(spark, gold) == 0)
    // EXTREMA shapes need the affected-group recompute, so they keep
    // the hidden-silver auto-chain: silver exists marked with its
    // owner, gold marks auto_chain, one refresh cascades both, DROP
    // removes both
    val created2 = spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$gold` ROW KEY (id) AS " +
        s"SELECT d.label, sum(f.v) AS sum_v, count(f.v) AS cnt_v, " +
        s"count(*) AS n_rows, min(f.cat) AS min_cat, " +
        s"max(f.cat) AS max_cat " +
        s"FROM graft.`$fact` f JOIN graft.`$dim` d ON f.cat = d.cat " +
        s"GROUP BY d.label").head()
    assert(created2.getString(0) == "aggjoin")
    assert(Versioned.properties(spark, silver)
      .get(DerivedTable.MvHiddenSilverOfProp).contains(gold))
    assert(Versioned.properties(spark, gold)
      .get(DerivedTable.MvAutoChainProp).contains("true"))
    // delete the current max of c0's rows: the extrema must step
    // DOWN to the runner-up, which only the recompute can know
    Versioned.deleteRows(spark, fact, Seq(30L).toDF("id"))
    spark.sql(s"CALL graft.system.refresh_mv('$gold')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$gold`"),
      spark.sql(s"SELECT d.label, sum(f.v) AS sum_v, count(f.v) AS " +
        s"cnt_v, count(*) AS n_rows, min(f.cat) AS min_cat, " +
        s"max(f.cat) AS max_cat FROM graft.`$fact` f JOIN " +
        s"graft.`$dim` d ON f.cat = d.cat GROUP BY d.label")))
    // transitive freshness reads 0 after the chained refresh
    val shown2 = spark.sql(s"SHOW TBLPROPERTIES graft.`$gold`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown2.get("graft.mv.transitive_staleness_versions")
      .contains("0"))
    // DROP removes the gold AND its hidden silver
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$gold`")
    assert(Versioned.currentVersion(spark, gold) == 0 &&
      Versioned.currentVersion(spark, silver) == 0)
    // group keys that are EXPRESSIONS over the join row work too —
    // the hidden silver projects ANY deterministic scalar of the
    // pair (the daily-revenue-by-label shape)
    val c2 = spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$gold` ROW KEY (id) AS " +
        s"SELECT upper(d.label) AS lab, sum(f.v) AS sum_v, " +
        s"count(f.v) AS cnt_v, count(*) AS n_rows " +
        s"FROM graft.`$fact` f JOIN graft.`$dim` d ON f.cat = d.cat " +
        s"GROUP BY upper(d.label)").head()
    assert(c2.getString(0) == "aggjoin")
    Versioned.upsert(spark, dim,
      Seq(("c2", "fresh")).toDF("cat", "label"), "cat")
    spark.sql(s"CALL graft.system.refresh_mv('$gold')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$gold`"),
      spark.sql(s"SELECT upper(d.label) AS lab, sum(f.v) AS sum_v, " +
        s"count(f.v) AS cnt_v, count(*) AS n_rows " +
        s"FROM graft.`$fact` f JOIN graft.`$dim` d ON f.cat = d.cat " +
        s"GROUP BY upper(d.label)")))
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$gold`")
    // a nondeterministic bucket over the join still refuses (the
    // silver's stored-query determinism gate)
    val e = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$gold` ROW KEY (id) AS " +
        s"SELECT CAST(rand() * 4 AS INT) AS lab, sum(f.v) AS sum_v, " +
        s"count(f.v) AS cnt_v, count(*) AS n_rows " +
        s"FROM graft.`$fact` f JOIN graft.`$dim` d ON f.cat = d.cat " +
        s"GROUP BY lab"))
    assert(e.getMessage.contains("nondeterministic"),
      s"expected the determinism refusal: ${e.getMessage.take(300)}")
  }

  test("multi-measure aggregate MVs: several sum/cnt pairs (and an " +
      "avg subset) maintain in one delta pass — plain and over a " +
      "join") {
    val src = fresh("mm_src")
    val dst = fresh("mm_dst")
    Versioned.commit((1L to 30L).map(i =>
        (i, s"g${i % 3}", i, i * 10L))
      .toDF("id", "g", "a", "b"), src)
    val sel = "SELECT g, sum(a) AS sum_a, count(a) AS cnt_a, " +
      "sum(b) AS sum_b, count(b) AS cnt_b, count(*) AS n_rows, " +
      "avg(b) AS avg_b, min(a) AS min_a, max(a) AS max_a FROM "
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      s"ROW KEY (id) AS $sel graft.`$src` GROUP BY g").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("agg", 0, 1)))
    assert(spark.sql(s"SELECT * FROM graft.`$dst`").columns.toSeq ==
      Seq("g", "sum_a", "cnt_a", "sum_b", "cnt_b", "n_rows",
        "avg_b", "min_a", "max_a"))
    val props = Versioned.properties(spark, dst)
    assert(props(DerivedTable.MvValueProp) == "a,b" &&
      props(DerivedTable.MvAvgProp) == "b")
    def expect = spark.sql(s"$sel graft.`$src` GROUP BY g")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$dst`"), expect))
    // one batch exercising independent measure channels: null ONE
    // measure in place (the other keeps counting), migrate a row,
    // delete the max of g0
    Versioned.applyChanges(spark, src,
      upserts = spark.sql("SELECT id, g, CAST(NULL AS BIGINT) AS a," +
          s" b FROM graft.`$src` WHERE id = 4")
        .unionByName(Seq((31L, "fresh", 7L, 70L))
          .toDF("id", "g", "a", "b")),
      deleteKeys = Seq(30L).toDF("id"), key = "id")
    val r = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(r.map(_.toSeq).toSeq == Seq(Seq("agg", 1, 2)))
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$dst`"), expect))
    // avg entries out of VALUE ORDER refuse (the stored schema must
    // be a function of the query)
    val dst2 = fresh("mm_dst2")
    val e = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$dst2` ROW KEY (id) AS " +
        "SELECT g, sum(a) AS sum_a, count(a) AS cnt_a, sum(b) AS " +
        "sum_b, count(b) AS cnt_b, count(*) AS n_rows, avg(b) AS " +
        "avg_b, avg(a) AS avg_a " +
        s"FROM graft.`$src` GROUP BY g"))
    assert(e.getMessage.contains("delta-maintainable shape"))
    // multi-measure OVER A JOIN: the hidden silver projects both
    // measures, one refresh maintains all pairs
    val dim = fresh("mm_dim")
    val gold = fresh("mm_gold")
    Versioned.commit(Seq(("g0", "L0"), ("g1", "L1"), ("g2", "L2"),
        ("fresh", "LF")).toDF("g", "label"), dim)
    val goldSel = "SELECT d.label, sum(f.a) AS sum_a, count(f.a) " +
      "AS cnt_a, sum(f.b) AS sum_b, count(f.b) AS cnt_b, " +
      "count(*) AS n_rows FROM " +
      s"graft.`$src` f JOIN graft.`$dim` d ON f.g = d.g"
    val c2 = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` " +
      s"ROW KEY (id) AS $goldSel GROUP BY d.label").head()
    assert(c2.getString(0) == "aggjoin")
    Versioned.append(Seq((32L, "g1", 5L, 50L))
      .toDF("id", "g", "a", "b"), src)
    spark.sql(s"CALL graft.system.refresh_mv('$gold')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$gold`"),
      spark.sql(s"$goldSel GROUP BY d.label")))
  }

  test("approx-distinct measures: approx_count_distinct(c) AS adc_c " +
      "stores a mergeable HLL sketch — inserts merge, a group that " +
      "lost rows recomputes, estimates track exact at small " +
      "cardinality") {
    val src = fresh("adc_src")
    val dst = fresh("adc_dst")
    // user u{i%7} per group g{i%3}: small cardinalities, where the
    // HLL sketch is EXACT (LIST/SET mode stores raw coupons) — so
    // the estimate must EQUAL count(DISTINCT) here, not just track it
    Versioned.commit((1L to 30L).map(i =>
        (i, s"g${i % 3}", s"u${i % 7}", i))
      .toDF("id", "g", "u", "v"), src)
    val sel = "SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, " +
      "count(*) AS n_rows, approx_count_distinct(u) AS adc_u FROM "
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      s"ROW KEY (id) AS $sel graft.`$src` GROUP BY g").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("agg", 0, 1)))
    // stored schema: the definition's columns plus the sketch state
    // LAST; the spec carries the distinct csv
    assert(spark.sql(s"SELECT * FROM graft.`$dst`").columns.toSeq ==
      Seq("g", "sum_v", "cnt_v", "n_rows", "adc_u", "hll_u"))
    assert(Versioned.properties(spark, dst)
      .get(DerivedTable.MvDistinctProp).contains("u"))
    // the DEFINITION's columns equal an exact recompute (count
    // DISTINCT, not approx — exact at these cardinalities)
    def expect = spark.sql("SELECT g, sum(v) AS sum_v, count(v) AS " +
      "cnt_v, count(*) AS n_rows, count(DISTINCT u) AS adc_u FROM " +
      s"graft.`$src` GROUP BY g")
    def got = spark.sql(
      s"SELECT g, sum_v, cnt_v, n_rows, adc_u FROM graft.`$dst`")
    assert(DerivedTable.bagEqual(got, expect))
    // INSERT-ONLY refresh: the merge path (no recompute read) — new
    // values, including duplicates of standing ones, land exactly
    Versioned.append(Seq((31L, "g0", "u0", 31L),
      (32L, "g0", "uNEW", 32L), (33L, "fresh", "u1", 33L))
      .toDF("id", "g", "u", "v"), src)
    val r1 = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(r1.map(_.toSeq).toSeq == Seq(Seq("agg", 1, 2)))
    assert(DerivedTable.bagEqual(got, expect))
    // LOSS refresh: delete one group's only uNEW row and UPDATE a
    // row's u in another — both groups must recompute their
    // sketches (a merged sketch cannot forget)
    Versioned.applyChanges(spark, src,
      upserts = Seq((1L, "g1", "uMOVED", 1L))
        .toDF("id", "g", "u", "v"),
      deleteKeys = Seq(32L).toDF("id"), key = "id")
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(DerivedTable.bagEqual(got, expect))
    // all-null distinct values: adc 0, estimate matches the exact 0
    val nsrc = fresh("adc_nsrc")
    val ndst = fresh("adc_ndst")
    Versioned.commit(Seq((1L, "g0", None: Option[String], 5L),
      (2L, "g0", None: Option[String], 6L))
      .toDF("id", "g", "u", "v"), nsrc)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$ndst` ROW KEY (id) " +
      s"AS $sel graft.`$nsrc` GROUP BY g")
    val nrow = spark.sql(s"SELECT adc_u, hll_u FROM graft.`$ndst`")
      .head()
    assert(nrow.getLong(0) == 0L && nrow.isNullAt(1))
    // distinct + extrema compose (the recompute read serves both)
    val edst = fresh("adc_edst")
    val esel = "SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, " +
      "count(*) AS n_rows, approx_count_distinct(u) AS adc_u, " +
      "min(u) AS min_u, max(u) AS max_u FROM "
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$edst` ROW KEY (id) " +
      s"AS $esel graft.`$src` GROUP BY g")
    Versioned.applyChanges(spark, src,
      upserts = Seq((2L, "g2", "uX", 2L)).toDF("id", "g", "u", "v"),
      deleteKeys = Seq(14L).toDF("id"), key = "id")
    spark.sql(s"CALL graft.system.refresh_mv('$edst')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT g, sum_v, cnt_v, n_rows, adc_u, min_u, " +
        s"max_u FROM graft.`$edst`"),
      spark.sql("SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, " +
        "count(*) AS n_rows, count(DISTINCT u) AS adc_u, min(u) AS " +
        s"min_u, max(u) AS max_u FROM graft.`$src` GROUP BY g")))
    // over a JOIN: the hidden silver projects the distinct column
    val dim = fresh("adc_dim")
    val gold = fresh("adc_gold")
    Versioned.commit(Seq(("g0", "L0"), ("g1", "L1"), ("g2", "L2"),
      ("fresh", "LF")).toDF("g", "label"), dim)
    val goldSel = "SELECT d.label, sum(f.v) AS sum_v, count(f.v) " +
      "AS cnt_v, count(*) AS n_rows, approx_count_distinct(f.u) AS " +
      s"adc_u FROM graft.`$src` f JOIN graft.`$dim` d ON f.g = d.g"
    val c2 = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` " +
      s"ROW KEY (id) AS $goldSel GROUP BY d.label").head()
    assert(c2.getString(0) == "aggjoin")
    Versioned.append(Seq((40L, "g1", "uJ", 40L))
      .toDF("id", "g", "u", "v"), src)
    spark.sql(s"CALL graft.system.refresh_mv('$gold')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT label, sum_v, cnt_v, n_rows, adc_u FROM " +
        s"graft.`$gold`"),
      spark.sql("SELECT d.label, sum(f.v) AS sum_v, count(f.v) AS " +
        "cnt_v, count(*) AS n_rows, count(DISTINCT f.u) AS adc_u " +
        s"FROM graft.`$src` f JOIN graft.`$dim` d ON f.g = d.g " +
        "GROUP BY d.label")))
    // refusals: count(DISTINCT) under the WRONG alias refuses (the
    // exact spelling is cd_<c> — the message names both spellings);
    // a wrong approx alias refuses too
    val d2 = fresh("adc_ref")
    val e1 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$d2` ROW KEY (id) AS " +
        "SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS " +
        s"n_rows, count(DISTINCT u) AS du FROM graft.`$src` " +
        "GROUP BY g"))
    assert(e1.getMessage.contains("approx_count_distinct"))
    assert(e1.getMessage.contains("cd_<c>"))
    val e2 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$d2` ROW KEY (id) AS " +
        "SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS " +
        "n_rows, approx_count_distinct(u) AS wrong FROM " +
        s"graft.`$src` GROUP BY g"))
    assert(e2.getMessage.contains("delta-maintainable shape"))
  }

  test("aggregate-over-snowflake MVs: GROUP BY d2.region over " +
      "fact⋈d1⋈d2 auto-chains the fact⋈d1 hop at <dst>.snow and " +
      "rewrites the gold onto silver⋈d2; MIXED star/chain trees " +
      "peel the chain legs only") {
    val fact = fresh("sa_fact")
    val d1 = fresh("sa_d1")
    val d2 = fresh("sa_d2")
    val gold = fresh("sa_gold")
    Versioned.commit((1L to 24L).map(i => (i, s"c${i % 4}", i))
      .toDF("id", "cat", "v"), fact)
    Versioned.commit(Seq(("c0", "r0"), ("c1", "r1"), ("c2", "r0"),
      ("c3", "r1")).toDF("cat", "rk"), d1)
    Versioned.commit(Seq(("r0", "EAST"), ("r1", "WEST"))
      .toDF("rk2", "region"), d2)
    val goldSel = "SELECT d2.region, sum(f.v) AS sum_v, " +
      "count(f.v) AS cnt_v, count(*) AS n_rows FROM " +
      s"graft.`$fact` f JOIN graft.`$d1` d1 ON f.cat = d1.cat " +
      s"JOIN graft.`$d2` d2 ON d1.rk = d2.rk2"
    val created = spark.sql(s"CREATE MATERIALIZED VIEW " +
      s"graft.`$gold` ROW KEY (id) AS $goldSel " +
      "GROUP BY d2.region").head()
    assert(created.getString(0) == "aggjoin")
    // the hidden fact⋈d1 hop materializes at .snow; the gold's
    // measures are invertible, so NO .silver (direct algebraic)
    assert(Versioned.currentVersion(spark, gold + ".snow") > 0)
    assert(Versioned.currentVersion(spark, gold + ".silver") == 0)
    def expect = spark.sql(s"$goldSel GROUP BY d2.region")
    def got = spark.sql(s"SELECT * FROM graft.`$gold`")
    assert(DerivedTable.bagEqual(got, expect))
    // a fact append cascades through the snow silver into the gold
    Versioned.append(Seq((25L, "c1", 100L), (26L, "c9", 5L))
      .toDF("id", "cat", "v"), fact)
    val r = spark.sql(s"CALL graft.system.refresh_mv('$gold')")
      .head()
    assert(r.getString(0) == "aggjoin")
    assert(DerivedTable.bagEqual(got, expect))
    // a d1 RE-CATEGORIZATION (c2 moves regions) propagates: the snow
    // silver maintains from d1's changelog, the gold from the
    // silver's
    Versioned.upsert(spark, d1,
      Seq(("c2", "r1")).toDF("cat", "rk"), "cat")
    spark.sql(s"CALL graft.system.refresh_mv('$gold')")
    assert(DerivedTable.bagEqual(got, expect))
    // a d2 relabel moves whole groups (the gold's own dim leg)
    Versioned.upsert(spark, d2,
      Seq(("r0", "EASTERN")).toDF("rk2", "region"), "rk2")
    spark.sql(s"CALL graft.system.refresh_mv('$gold')")
    assert(DerivedTable.bagEqual(got, expect))
    // DROP removes the gold AND the hidden snow hop
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$gold`")
    assert(Versioned.currentVersion(spark, gold) == 0)
    assert(Versioned.currentVersion(spark, gold + ".snow") == 0)
    // a NON-INVERTIBLE measure (extrema) chains BOTH hidden hops:
    // .snow (fact⋈d1) and .silver (the join stream the recompute
    // point-reads)
    val gold2 = fresh("sa_gold2")
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold2` ROW KEY " +
      s"(id) AS SELECT d2.region, sum(f.v) AS sum_v, count(f.v) AS " +
      "cnt_v, count(*) AS n_rows, min(f.v) AS min_v, max(f.v) AS " +
      s"max_v FROM graft.`$fact` f JOIN graft.`$d1` d1 ON " +
      s"f.cat = d1.cat JOIN graft.`$d2` d2 ON d1.rk = d2.rk2 " +
      "GROUP BY d2.region")
    assert(Versioned.currentVersion(spark, gold2 + ".snow") > 0)
    assert(Versioned.currentVersion(spark, gold2 + ".silver") > 0)
    // deleting a group's max steps down — only the recompute knows
    Versioned.deleteRows(spark, fact,
      Seq(Tuple1(25L)).toDF("id"))
    spark.sql(s"CALL graft.system.refresh_mv('$gold2')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$gold2`"),
      spark.sql("SELECT d2.region, sum(f.v) AS sum_v, count(f.v) " +
        "AS cnt_v, count(*) AS n_rows, min(f.v) AS min_v, " +
        s"max(f.v) AS max_v FROM graft.`$fact` f JOIN graft.`$d1` " +
        s"d1 ON f.cat = d1.cat JOIN graft.`$d2` d2 ON " +
        "d1.rk = d2.rk2 GROUP BY d2.region")))
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$gold2`")
    assert(Versioned.currentVersion(spark, gold2 + ".silver") == 0)
    // an N-HOP linear chain peels one hidden hop per level:
    // fact⋈d1⋈d2⋈d3 → .snow (fact⋈d1), .snow2 ((fact⋈d1)⋈d2), gold
    val d3 = fresh("sa_d3")
    val gold3 = fresh("sa_gold3")
    Versioned.commit(Seq(("EASTERN", "US"), ("WEST", "EU"))
      .toDF("rg", "zone"), d3)
    val chainSel = "SELECT d3.zone, sum(f.v) AS sum_v, count(f.v) " +
      s"AS cnt_v, count(*) AS n_rows FROM graft.`$fact` f JOIN " +
      s"graft.`$d1` d1 ON f.cat = d1.cat JOIN graft.`$d2` d2 ON " +
      s"d1.rk = d2.rk2 JOIN graft.`$d3` d3 ON d2.region = d3.rg"
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold3` ROW KEY " +
      s"(id) AS $chainSel GROUP BY d3.zone")
    assert(Versioned.currentVersion(spark, gold3 + ".snow") > 0)
    assert(Versioned.currentVersion(spark, gold3 + ".snow2") > 0)
    assert(Versioned.properties(spark, gold3)
      .get("graft.mv.original_query").exists(_.contains("d3.zone")))
    Versioned.append(Seq((27L, "c0", 7L))
      .toDF("id", "cat", "v"), fact)
    spark.sql(s"CALL graft.system.refresh_mv('$gold3')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$gold3`"),
      spark.sql(s"$chainSel GROUP BY d3.zone")))
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$gold3`")
    assert(Versioned.currentVersion(spark, gold3) == 0)
    assert(Versioned.currentVersion(spark, gold3 + ".snow") == 0)
    assert(Versioned.currentVersion(spark, gold3 + ".snow2") == 0)
    // a MIXED tree — a star leg (dm ON fact) beside the snowflaked
    // chain (d2 ON d1) — peels the chain's first hop only; the star
    // leg joins the silver on the projected fact column, and edits
    // on every leg propagate through one refresh
    val dm = fresh("sa_dm")
    val gold4 = fresh("sa_gold4")
    Versioned.commit(Seq(("c0", "T0"), ("c1", "T1"), ("c2", "T0"),
      ("c3", "T1"), ("c9", "T9")).toDF("catm", "tier"), dm)
    val mixSel = "SELECT d2.region, dm.tier, sum(f.v) AS sum_v, " +
      s"count(f.v) AS cnt_v, count(*) AS n_rows FROM graft.`$fact` " +
      s"f JOIN graft.`$d1` d1 ON f.cat = d1.cat JOIN graft.`$dm` " +
      s"dm ON f.cat = dm.catm JOIN graft.`$d2` d2 ON d1.rk = d2.rk2"
    val c4 = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold4` " +
      s"ROW KEY (id) AS $mixSel GROUP BY d2.region, dm.tier").head()
    assert(c4.getString(0) == "aggjoin")
    assert(Versioned.currentVersion(spark, gold4 + ".snow") > 0 &&
      Versioned.currentVersion(spark, gold4 + ".snow2") == 0 &&
      Versioned.currentVersion(spark, gold4 + ".silver") == 0)
    def expect4 = spark.sql(s"$mixSel GROUP BY d2.region, dm.tier")
    def got4 = spark.sql(s"SELECT * FROM graft.`$gold4`")
    assert(DerivedTable.bagEqual(got4, expect4))
    // one edit per leg class: fact append, STAR-leg relabel (tier
    // T0 renames — groups move), CHAIN-leg re-region
    Versioned.append(Seq((28L, "c3", 13L)).toDF("id", "cat", "v"),
      fact)
    Versioned.upsert(spark, dm,
      Seq(("c0", "T-NEW")).toDF("catm", "tier"), "catm")
    Versioned.upsert(spark, d2,
      Seq(("r1", "WESTERN")).toDF("rk2", "region"), "rk2")
    spark.sql(s"CALL graft.system.refresh_mv('$gold4')")
    assert(DerivedTable.bagEqual(got4, expect4))
    assert(got4.filter($"tier" === "T-NEW").count() > 0)
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$gold4`")
    assert(Versioned.currentVersion(spark, gold4) == 0 &&
      Versioned.currentVersion(spark, gold4 + ".snow") == 0)
    // refusal: a bare (unqualified) reference is ambiguous across
    // the hops — the rewrite must be exact
    val g3 = fresh("sa_ref")
    val e = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$g3` ROW KEY (id) AS " +
        "SELECT d2.region, sum(v) AS sum_v, count(v) AS cnt_v, " +
        s"count(*) AS n_rows FROM graft.`$fact` f JOIN " +
        s"graft.`$d1` d1 ON f.cat = d1.cat JOIN graft.`$d2` d2 " +
        "ON d1.rk = d2.rk2 GROUP BY d2.region"))
    assert(e.getMessage.contains("2-part qualified"))
  }

  test("count-only aggregate MVs: SELECT g, count(*) AS n_rows — " +
      "the frequency table, no sum/cnt pair at all") {
    val src = fresh("co_src")
    val dst = fresh("co_dst")
    Versioned.commit((1L to 30L).map(i => (i, s"g${i % 4}"))
      .toDF("id", "g"), src)
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      s"ROW KEY (id) AS SELECT g, count(*) AS n_rows FROM " +
      s"graft.`$src` GROUP BY g").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("agg", 0, 1)))
    assert(spark.sql(s"SELECT * FROM graft.`$dst`").columns.toSeq ==
      Seq("g", "n_rows"))
    def expect = spark.sql(
      s"SELECT g, count(*) AS n_rows FROM graft.`$src` GROUP BY g")
    def got = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(DerivedTable.bagEqual(got, expect))
    // append (group birth), then a mixed batch: migration + a group
    // death (every g3 row dies)
    Versioned.append(Seq((31L, "fresh"), (32L, "g0"))
      .toDF("id", "g"), src)
    val r1 = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(r1.map(_.toSeq).toSeq == Seq(Seq("agg", 1, 2)))
    assert(DerivedTable.bagEqual(got, expect))
    Versioned.applyChanges(spark, src,
      upserts = Seq((1L, "g2")).toDF("id", "g"),
      deleteKeys = (3L to 30L by 4).toDF("id"), key = "id")
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(DerivedTable.bagEqual(got, expect))
    // count-only composes with the non-pair measure families: a
    // distinct-count rollup with NO summed measure
    val src2 = fresh("co_src2")
    val dst2 = fresh("co_dst2")
    Versioned.commit((1L to 30L).map(i =>
        (i, s"g${i % 3}", s"u${i % 7}"))
      .toDF("id", "g", "u"), src2)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst2` ROW KEY (id) " +
      s"AS SELECT g, count(*) AS n_rows, count(DISTINCT u) AS cd_u " +
      s"FROM graft.`$src2` GROUP BY g")
    Versioned.append(Seq((31L, "g0", "u0"), (32L, "g0", "uNEW"))
      .toDF("id", "g", "u"), src2)
    spark.sql(s"CALL graft.system.refresh_mv('$dst2')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$dst2`"),
      spark.sql(s"SELECT g, count(*) AS n_rows, count(DISTINCT u) " +
        s"AS cd_u FROM graft.`$src2` GROUP BY g")))
    // count-only over a JOIN: the direct algebraic gold with no
    // summed measure at all
    val dim = fresh("co_dim")
    val jgold = fresh("co_jgold")
    Versioned.commit(Seq(("g0", "L0"), ("g1", "L1"), ("g2", "L2"),
      ("g3", "L3"), ("fresh", "LF")).toDF("g", "label"), dim)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$jgold` ROW KEY " +
      s"(id) AS SELECT d.label, count(*) AS n_rows FROM " +
      s"graft.`$src` f JOIN graft.`$dim` d ON f.g = d.g " +
      "GROUP BY d.label")
    assert(Versioned.currentVersion(spark, jgold + ".silver") == 0)
    Versioned.append(Seq((40L, "g1")).toDF("id", "g"), src)
    spark.sql(s"CALL graft.system.refresh_mv('$jgold')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$jgold`"),
      spark.sql(s"SELECT d.label, count(*) AS n_rows FROM " +
        s"graft.`$src` f JOIN graft.`$dim` d ON f.g = d.g " +
        "GROUP BY d.label")))
    // a pair-less sum still refuses (sum without its count twin)
    val d2 = fresh("co_ref")
    val e = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$d2` ROW KEY (id) AS " +
        s"SELECT g, sum(id) AS sum_id, count(*) AS n_rows FROM " +
        s"graft.`$src` GROUP BY g"))
    assert(e.getMessage.contains("delta-maintainable shape"))
    // the pure-SQL procedure spelling takes value => ''
    val dst3 = fresh("co_dst3")
    val boot = spark.sql("CALL graft.system.refresh_agg(" +
      s"source => '$src', dest => '$dst3', row_key => 'id', " +
      "group_by => 'g', value => '')").head()
    assert(boot.getInt(0) == 0)
    assert(Versioned.read(spark, dst3).columns.toSeq ==
      Seq("g", "n_rows"))
  }

  test("expression-valued measures: sum(price * (1 - disc)) AS " +
      "sum_rev materializes a derived value column — the TPC-H Q1 " +
      "revenue-rollup shape, delta-maintained") {
    val src = fresh("vx_src")
    val dst = fresh("vx_dst")
    // floor(...*100) keeps the measure in exact integer cents (floor
    // over IEEE doubles is engine-stable), so every equality below
    // is a hash fact
    Versioned.commit((1L to 20L).map(i =>
        (i, s"g${i % 3}", i * 10.0, (i % 4) * 0.1))
      .toDF("id", "g", "price", "disc"), src)
    val revT = "floor(price * (1 - disc) * 100)"
    val sel = s"SELECT g, sum($revT) AS sum_rev, count($revT) AS " +
      s"cnt_rev, count(*) AS n_rows, avg($revT) AS avg_rev, " +
      s"min($revT) AS min_rev, max($revT) AS max_rev FROM "
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      s"ROW KEY (id) AS $sel graft.`$src` GROUP BY g").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("agg", 0, 1)))
    assert(spark.sql(s"SELECT * FROM graft.`$dst`").columns.toSeq ==
      Seq("g", "sum_rev", "cnt_rev", "n_rows", "avg_rev", "min_rev",
        "max_rev"))
    // ONE derived column serves the pair, the avg, and the extrema;
    // the spec persists the argument text under the measure name
    assert(Versioned.properties(spark, dst)
      .contains(DerivedTable.MvValueExprPrefix + "rev"))
    def expect = spark.sql(s"$sel graft.`$src` GROUP BY g")
    def got = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(DerivedTable.bagEqual(got, expect))
    // append → the algebraic patch runs on the derived stream
    Versioned.append(Seq((21L, "g0", 500.0, 0.2),
      (22L, "fresh", 40.0, 0.0)).toDF("id", "g", "price", "disc"),
      src)
    val r1 = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(r1.map(_.toSeq).toSeq == Seq(Seq("agg", 1, 2)))
    assert(DerivedTable.bagEqual(got, expect))
    // mixed batch: a price update (the derived value changes in
    // place), a group migration, and key deletes — incl. the max
    // of a group, which only the extrema recompute can step down
    Versioned.applyChanges(spark, src,
      upserts = Seq((1L, "g1", 999.0, 0.5),
        (2L, "g0", 20.0, 0.0)).toDF("id", "g", "price", "disc"),
      deleteKeys = Seq(21L, 9L).toDF("id"), key = "id")
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(DerivedTable.bagEqual(got, expect))
    // over a JOIN, invertible-only expression measures maintain the
    // gold DIRECTLY (no hidden silver)
    val dim = fresh("vx_dim")
    val gold = fresh("vx_gold")
    Versioned.commit(Seq(("g0", "L0"), ("g1", "L1"), ("g2", "L2"),
      ("fresh", "LF")).toDF("g", "label"), dim)
    val goldSel = "SELECT d.label, sum(floor(f.price * (1 - " +
      "f.disc) * 100)) AS sum_rev, count(floor(f.price * (1 - " +
      "f.disc) * 100)) AS cnt_rev, count(*) AS n_rows FROM " +
      s"graft.`$src` f JOIN graft.`$dim` d ON f.g = d.g"
    val c2 = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` " +
      s"ROW KEY (id) AS $goldSel GROUP BY d.label").head()
    assert(c2.getString(0) == "aggjoin")
    assert(Versioned.currentVersion(spark, gold + ".silver") == 0)
    Versioned.append(Seq((30L, "g2", 77.0, 0.1))
      .toDF("id", "g", "price", "disc"), src)
    spark.sql(s"CALL graft.system.refresh_mv('$gold')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT * FROM graft.`$gold`"),
      spark.sql(s"$goldSel GROUP BY d.label")))
    // refusals: the pair's two spellings must carry the SAME text;
    // a derived measure name shadowing a source column refuses; a
    // nondeterministic measure expression refuses at CREATE
    val d2 = fresh("vx_ref")
    val e1 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$d2` ROW KEY (id) AS " +
        "SELECT g, sum(price * (1 - disc)) AS sum_rev, " +
        "count(price) AS cnt_rev, count(*) AS n_rows FROM " +
        s"graft.`$src` GROUP BY g"))
    assert(e1.getMessage.contains("delta-maintainable shape"))
    val e2 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$d2` ROW KEY (id) AS " +
        "SELECT g, sum(price * 2) AS sum_disc, count(price * 2) " +
        s"AS cnt_disc, count(*) AS n_rows FROM graft.`$src` " +
        "GROUP BY g"))
    assert(e2.getMessage.contains("shadow"))
    val e3 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$d2` ROW KEY (id) AS " +
        "SELECT g, sum(price * rand()) AS sum_r, count(price * " +
        s"rand()) AS cnt_r, count(*) AS n_rows FROM graft.`$src` " +
        "GROUP BY g"))
    assert(e3.getMessage.contains("nondeterministic"))
  }

  test("exact distinct-count measures: count(DISTINCT c) AS cd_c " +
      "recomputes the touched groups on EVERY refresh — duplicate " +
      "inserts don't inflate, deletes don't strand, and the count " +
      "always equals a full recompute") {
    val src = fresh("cd_src")
    val dst = fresh("cd_dst")
    Versioned.commit((1L to 30L).map(i =>
        (i, s"g${i % 3}", s"u${i % 7}", i))
      .toDF("id", "g", "u", "v"), src)
    val sel = "SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, " +
      "count(*) AS n_rows, count(DISTINCT u) AS cd_u FROM "
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      s"ROW KEY (id) AS $sel graft.`$src` GROUP BY g").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("agg", 0, 1)))
    // the stored schema IS the definition — no trailing sketch state
    // (the exact count needs none); the spec carries the csv
    assert(spark.sql(s"SELECT * FROM graft.`$dst`").columns.toSeq ==
      Seq("g", "sum_v", "cnt_v", "n_rows", "cd_u"))
    assert(Versioned.properties(spark, dst)
      .get(DerivedTable.MvExactDistinctProp).contains("u"))
    def expect = spark.sql("SELECT g, sum(v) AS sum_v, count(v) AS " +
      "cnt_v, count(*) AS n_rows, count(DISTINCT u) AS cd_u FROM " +
      s"graft.`$src` GROUP BY g")
    def got = spark.sql(s"SELECT * FROM graft.`$dst`")
    assert(DerivedTable.bagEqual(got, expect))
    // INSERT-ONLY refresh: a DUPLICATE of a standing value must NOT
    // inflate the count (the recompute, not a merge, decides), a
    // genuinely new value must grow it, a new group must be born
    Versioned.append(Seq((31L, "g0", "u0", 31L),
      (32L, "g0", "uNEW", 32L), (33L, "fresh", "u1", 33L))
      .toDF("id", "g", "u", "v"), src)
    val r1 = spark.sql(s"CALL graft.system.refresh_mv('$dst')")
      .collect()
    assert(r1.map(_.toSeq).toSeq == Seq(Seq("agg", 1, 2)))
    assert(DerivedTable.bagEqual(got, expect))
    // LOSS refresh: deleting ONE of two carriers of a value must not
    // shrink the count; deleting the only carrier must; an update
    // moving a value between groups patches both
    Versioned.applyChanges(spark, src,
      upserts = Seq((1L, "g1", "uMOVED", 1L))
        .toDF("id", "g", "u", "v"),
      deleteKeys = Seq(31L, 32L).toDF("id"), key = "id")
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(DerivedTable.bagEqual(got, expect))
    // cd + adc + extrema compose: ONE recompute read serves all
    // three non-invertible measure families
    val edst = fresh("cd_edst")
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$edst` ROW KEY (id) " +
      "AS SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS " +
      "n_rows, approx_count_distinct(u) AS adc_u, count(DISTINCT u) " +
      "AS cd_u, min(u) AS min_u, max(u) AS max_u FROM " +
      s"graft.`$src` GROUP BY g")
    Versioned.applyChanges(spark, src,
      upserts = Seq((2L, "g2", "uX", 2L)).toDF("id", "g", "u", "v"),
      deleteKeys = Seq(14L).toDF("id"), key = "id")
    spark.sql(s"CALL graft.system.refresh_mv('$edst')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT g, sum_v, cnt_v, n_rows, adc_u, cd_u, " +
        s"min_u, max_u FROM graft.`$edst`"),
      spark.sql("SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, " +
        "count(*) AS n_rows, count(DISTINCT u) AS adc_u, " +
        "count(DISTINCT u) AS cd_u, min(u) AS " +
        s"min_u, max(u) AS max_u FROM graft.`$src` GROUP BY g")))
    // all-null distinct values: cd 0 (count(DISTINCT) skips nulls)
    val nsrc = fresh("cd_nsrc")
    val ndst = fresh("cd_ndst")
    Versioned.commit(Seq((1L, "g0", None: Option[String], 5L),
      (2L, "g0", None: Option[String], 6L))
      .toDF("id", "g", "u", "v"), nsrc)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$ndst` ROW KEY (id) " +
      s"AS $sel graft.`$nsrc` GROUP BY g")
    assert(spark.sql(s"SELECT cd_u FROM graft.`$ndst`").head()
      .getLong(0) == 0L)
    // over a JOIN: a cd measure is non-invertible, so the CREATE
    // must keep the hidden-silver auto-chain (the recompute's input
    // is the joined stream) — the silver sibling exists
    val dim = fresh("cd_dim")
    val gold = fresh("cd_gold")
    Versioned.commit(Seq(("g0", "L0"), ("g1", "L1"), ("g2", "L2"),
      ("fresh", "LF")).toDF("g", "label"), dim)
    val c2 = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` " +
      "ROW KEY (id) AS SELECT d.label, sum(f.v) AS sum_v, " +
      "count(f.v) AS cnt_v, count(*) AS n_rows, count(DISTINCT " +
      s"f.u) AS cd_u FROM graft.`$src` f JOIN graft.`$dim` d " +
      "ON f.g = d.g GROUP BY d.label").head()
    assert(c2.getString(0) == "aggjoin")
    assert(Versioned.currentVersion(spark, gold + ".silver") > 0)
    Versioned.append(Seq((40L, "g1", "u0", 40L))
      .toDF("id", "g", "u", "v"), src)
    spark.sql(s"CALL graft.system.refresh_mv('$gold')")
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT label, sum_v, cnt_v, n_rows, cd_u FROM " +
        s"graft.`$gold`"),
      spark.sql("SELECT d.label, sum(f.v) AS sum_v, count(f.v) AS " +
        "cnt_v, count(*) AS n_rows, count(DISTINCT f.u) AS cd_u " +
        s"FROM graft.`$src` f JOIN graft.`$dim` d ON f.g = d.g " +
        "GROUP BY d.label")))
    // refusals: a group column cannot be a cd arg (one value per
    // group); sum(DISTINCT) is not a maintainable shape
    val d2 = fresh("cd_ref")
    val e1 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$d2` ROW KEY (id) AS " +
        "SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS " +
        s"n_rows, count(DISTINCT g) AS cd_g FROM graft.`$src` " +
        "GROUP BY g"))
    assert(e1.getMessage.contains("delta-maintainable shape"))
    val e2 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$d2` ROW KEY (id) AS " +
        "SELECT g, sum(DISTINCT v) AS sum_v, count(v) AS cnt_v, " +
        s"count(*) AS n_rows FROM graft.`$src` GROUP BY g"))
    assert(e2.getMessage.contains("delta-maintainable shape"))
  }

  test("follow_mv converges a DIRECT aggregate-over-join gold on " +
      "fact commits") {
    val fact = fresh("fw_fact")
    val dim = fresh("fw_dim")
    val gold = fresh("fw_gold")
    Versioned.commit((1L to 12L).map(i => (i, s"c${i % 2}", i))
      .toDF("id", "cat", "v"), fact)
    Versioned.commit(Seq(("c0", "L0"), ("c1", "L1"))
      .toDF("cat", "label"), dim)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` ROW KEY (id) " +
      s"AS SELECT d.label, sum(f.v) AS sum_v, count(f.v) AS cnt_v, " +
      s"count(*) AS n_rows FROM graft.`$fact` f JOIN graft.`$dim` d " +
      "ON f.cat = d.cat GROUP BY d.label")
    val h = graft.streaming.MvFollower.follow(spark, gold, 100L)
    try {
      Versioned.append(Seq((13L, "c0", 990L)).toDF("id", "cat", "v"),
        fact)
      val stop = System.currentTimeMillis + 20000
      var ok = false
      while (!ok && System.currentTimeMillis < stop) {
        ok = DerivedTable.refreshState(spark, gold).exists(_._3 == 0) &&
          spark.sql(s"SELECT sum(n_rows) FROM graft.`$gold`")
            .head().getLong(0) == 13L
        if (!ok) Thread.sleep(100)
      }
      assert(h.checkFailed().isEmpty,
        s"follower tick failed: ${h.checkFailed().map(_.getMessage)}")
      assert(ok, "follower did not converge the direct aggjoin gold")
    } finally h.stop()
  }

  test("r17 guard rail refusals: alias shadowing a join column, " +
      "DECIMAL avg, DROP on a hidden silver") {
    val fact = fresh("gr_fact")
    val dim = fresh("gr_dim")
    val gold = fresh("gr_gold")
    Versioned.commit((1L to 12L).map(i => (i, s"c${i % 2}", i))
      .toDF("id", "cat", "v"), fact)
    Versioned.commit(Seq(("c0", "L0"), ("c1", "L1"))
      .toDF("cat", "label"), dim)
    // an expression group aliased to a REAL fact/dim column refuses:
    // Spark would resolve GROUP BY cat to f.cat, not the alias
    val e1 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$gold` ROW KEY (id) AS " +
        s"SELECT upper(d.label) AS cat, sum(f.v) AS sum_v, " +
        s"count(f.v) AS cnt_v, count(*) AS n_rows " +
        s"FROM graft.`$fact` f JOIN graft.`$dim` d ON f.cat = d.cat " +
        "GROUP BY cat"))
    assert(e1.getMessage.contains("shadows"),
      s"expected the shadow refusal: ${e1.getMessage.take(300)}")
    // DECIMAL avg refuses (Spark's avg(decimal) type/rounding differ
    // from the stored sum/cnt quotient)
    val dsrc = fresh("gr_dec")
    val ddst = fresh("gr_decmv")
    Versioned.commit(spark.sql("SELECT id, g, CAST(v AS " +
      "DECIMAL(10,2)) AS v FROM VALUES (1L, 'a', 1.50), (2L, 'a', " +
      "2.25) AS t(id, g, v)"), dsrc)
    val e2 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$ddst` ROW KEY (id) AS " +
        "SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS " +
        s"n_rows, avg(v) AS avg_v FROM graft.`$dsrc` GROUP BY g"))
    assert(e2.getMessage.contains("DECIMAL"),
      s"expected the decimal refusal: ${e2.getMessage.take(300)}")
    // a hidden silver refuses its own DROP, naming the owner (an
    // EXTREMA shape — invertible shapes maintain directly with no
    // silver since r18)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` ROW KEY (id) " +
      s"AS SELECT d.label, sum(f.v) AS sum_v, count(f.v) AS cnt_v, " +
      s"count(*) AS n_rows, min(f.cat) AS min_cat, " +
      s"max(f.cat) AS max_cat " +
      s"FROM graft.`$fact` f JOIN graft.`$dim` d " +
      "ON f.cat = d.cat GROUP BY d.label")
    val e3 = intercept[Exception](spark.sql(
      s"DROP MATERIALIZED VIEW graft.`$gold.silver`"))
    assert(e3.getMessage.contains("owner") ||
      e3.getMessage.contains("hidden silver"),
      s"expected the hidden-silver refusal: ${e3.getMessage.take(300)}")
    // the owner's DROP still removes both
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$gold`")
    assert(Versioned.currentVersion(spark, gold) == 0 &&
      Versioned.currentVersion(spark, gold + ".silver") == 0)
  }

  test("KLL quantile-sketch measures: graft_kll(c) AS kll_c stores " +
      "mergeable percentile state — inserts merge, loss recomputes, " +
      "quantiles exact at sub-k cardinality via graft_kll_quantile") {
    val src = fresh("kll_src")
    val dst = fresh("kll_dst")
    // ≤ ~k (200) values per group keeps the sketch in exact mode:
    // quantiles are true order statistics, so equality against a
    // percentile recompute is legitimate
    Versioned.commit((1L to 60L).map(i => (i, s"g${i % 2}", i * 1.0))
      .toDF("id", "g", "v"), src)
    val sel = "SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, " +
      "count(*) AS n_rows, graft_kll(v) AS kll_v FROM "
    val created = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` " +
      s"ROW KEY (id) AS $sel graft.`$src` GROUP BY g").collect()
    assert(created.map(_.toSeq).toSeq == Seq(Seq("agg", 0, 1)))
    assert(spark.sql(s"SELECT * FROM graft.`$dst`").columns.toSeq ==
      Seq("g", "sum_v", "cnt_v", "n_rows", "kll_v"))
    assert(Versioned.properties(spark, dst)
      .get(DerivedTable.MvKllProp).contains("v"))
    def quantiles = spark.sql("SELECT g, " +
      "graft_kll_quantile(kll_v, 0.5) AS p50, " +
      s"graft_kll_quantile(kll_v, 1.0) AS p100 FROM graft.`$dst`")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    def expect = spark.sql("SELECT g, " +
      "percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS p50, " +
      s"max(v) AS p100 FROM graft.`$src` GROUP BY g")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    assert(quantiles("g0")._2 == 60.0 && quantiles("g1")._2 == 59.0)
    // INSERT-ONLY refresh: the sketch MERGE path — the new max and a
    // shifted median land exactly
    Versioned.append(Seq((61L, "g0", 200.0), (62L, "g0", 201.0))
      .toDF("id", "g", "v"), src)
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(quantiles("g0")._2 == 201.0)
    assert(quantiles == expect.map { case (k, (a, b)) => k -> (a, b) },
      s"quantiles $quantiles != recompute $expect")
    // LOSS refresh: delete the maxes — only the recompute can know
    // the runner-up; the untouched group's sketch stands
    Versioned.deleteRows(spark, src, Seq(61L, 62L).toDF("id"))
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(quantiles("g0")._2 == 60.0)
    assert(quantiles == expect)
    // over a JOIN the shape keeps the hidden silver (the recompute
    // needs its point reads)
    val dim = fresh("kll_dim")
    val gold = fresh("kll_gold")
    Versioned.commit(Seq(("g0", "L0"), ("g1", "L1"))
      .toDF("g", "label"), dim)
    val c2 = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` " +
      "ROW KEY (id) AS SELECT d.label, sum(f.v) AS sum_v, " +
      "count(f.v) AS cnt_v, count(*) AS n_rows, graft_kll(f.v) AS " +
      s"kll_v FROM graft.`$src` f JOIN graft.`$dim` d ON f.g = d.g " +
      "GROUP BY d.label").head()
    assert(c2.getString(0) == "aggjoin")
    assert(Versioned.currentVersion(spark, gold + ".silver") > 0)
    Versioned.append(Seq((63L, "g1", 500.0)).toDF("id", "g", "v"), src)
    spark.sql(s"CALL graft.system.refresh_mv('$gold')")
    val gq = spark.sql("SELECT label, graft_kll_quantile(kll_v, 1.0) " +
      s"FROM graft.`$gold`").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gq("L1") == 500.0 && gq("L0") == 60.0)
    // a wrong alias refuses with the shape contract
    val d2 = fresh("kll_ref")
    val e = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW graft.`$d2` ROW KEY (id) AS " +
        "SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, count(*) AS " +
        s"n_rows, graft_kll(v) AS wrong FROM graft.`$src` GROUP BY g"))
    assert(e.getMessage.contains("delta-maintainable shape"))
  }

  test("wall-clock staleness: commit stamps surface " +
      "graft.mv.staleness_seconds beside the version trio, and " +
      "time-spelled bounds (30s/5m/2h) gate reads on data age") {
    val src = fresh("wc_src")
    val dst = fresh("wc_dst")
    Versioned.commit((1L to 10L).map(i => (i, s"g${i % 2}", i))
      .toDF("id", "g", "v"), src)
    // commit stamps are monotone per table
    val t1 = Versioned.commitTimestamp(spark, src, 1)
    assert(t1.nonEmpty)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` ROW KEY (id) " +
      s"AS SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, count(*) " +
      s"AS n_rows FROM graft.`$src` GROUP BY g")
    def shown = spark.sql(s"SHOW TBLPROPERTIES graft.`$dst`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // fresh: both units read 0
    assert(shown.get("graft.mv.staleness_versions").contains("0"))
    assert(shown.get("graft.mv.staleness_seconds").contains("0"))
    // go stale, then INJECT an hour-old stamp into the unseen source
    // commit's ref sidecar — the spec's time machine (the stamp is
    // the 4th tab field; commitTimestamp reads it fresh each time)
    Versioned.append(Seq((11L, "gX", 99L)).toDF("id", "g", "v"), src)
    assert(Versioned.commitTimestamp(spark, src, 2)
      .exists(_ >= t1.get))
    val ref = new java.io.File(s"$src/v=2/_ref")
    val parts = new String(java.nio.file.Files
      .readAllBytes(ref.toPath), "UTF-8").trim.split("\t")
    java.nio.file.Files.write(ref.toPath,
      (parts.take(3) :+ (System.currentTimeMillis() - 3600L * 1000)
        .toString).mkString("\t").getBytes("UTF-8"))
    val secs = shown.get("graft.mv.staleness_seconds").map(_.toLong)
    assert(secs.exists(a => a >= 3500 && a <= 3700),
      s"expected ~3600s of wall-clock staleness, got $secs")
    assert(shown.get("graft.mv.staleness_versions").contains("1"))
    // a 5m bound refuses on AGE (the lag is only 1 version); a 2h
    // bound serves the same state
    spark.sql(s"ALTER TABLE graft.`$dst` SET TBLPROPERTIES " +
      "('graft.mv.max-staleness-versions'='5m')")
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM graft.`$dst`").collect())
    assert(e.getMessage.contains("max-staleness") &&
      e.getMessage.contains("second(s) behind wall-clock"),
      s"expected the wall-clock refusal: ${e.getMessage.take(300)}")
    spark.sql(s"ALTER TABLE graft.`$dst` SET TBLPROPERTIES " +
      "('graft.mv.max-staleness-versions'='2h')")
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dst`")
      .head().getLong(0) == 2L)
    // refresh clears the age; the tight bound then serves
    spark.sql(s"ALTER TABLE graft.`$dst` SET TBLPROPERTIES " +
      "('graft.mv.max-staleness-versions'='30s')")
    spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dst`")
      .head().getLong(0) == 3L)
    assert(shown.get("graft.mv.staleness_seconds").contains("0"))
    // malformed text still degrades at load and refuses at scan
    spark.sql(s"ALTER TABLE graft.`$dst` SET TBLPROPERTIES " +
      "('graft.mv.max-staleness-versions'='5 parsecs')")
    Versioned.commitNote(spark, src, "bump")
    val e2 = intercept[Exception](
      spark.sql(s"SELECT * FROM graft.`$dst`").collect())
    assert(e2.getMessage.contains("30s / 5m / 2h"))
  }

  test("maintenance rewrites carry the MV pin: compact / zorder / " +
      "compact_deletes / set_spec on a view never bury src=vN, and " +
      "the next refresh advances") {
    val src = fresh("mt_src")
    val dst = fresh("mt_dst")
    Versioned.commit((1L to 40L).map(i => (i, s"g${i % 4}", i))
      .toDF("id", "g", "v"), src)
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dst` ROW KEY (id) " +
      s"AS SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, count(*) " +
      s"AS n_rows FROM graft.`$src` GROUP BY g")
    // several refreshes make small files worth packing
    (1 to 3).foreach { k =>
      Versioned.append(Seq((40L + k, "gX", 10L * k))
        .toDF("id", "g", "v"), src)
      spark.sql(s"CALL graft.system.refresh_mv('$dst')")
    }
    val pin0 = Versioned.notePin(spark, dst, "src")
    assert(pin0.nonEmpty)
    def pinHolds(op: String): Unit =
      assert(Versioned.notePin(spark, dst, "src") == pin0,
        s"$op buried the src pin")
    spark.sql(s"CALL graft.system.compact('$dst')")
    pinHolds("compact")
    spark.sql(s"CALL graft.system.compact_small('$dst')")
    pinHolds("compact_small")
    spark.sql(s"CALL graft.system.rewrite_zorder('$dst', " +
      "col_a => 'sum_v', col_b => 'n_rows')")
    pinHolds("rewrite_zorder")
    spark.sql(s"CALL graft.system.compact_deletes('$dst')")
    pinHolds("compact_deletes")
    spark.sql(s"CALL graft.system.set_spec('$dst', spec => 'identity(g)')")
    pinHolds("set_spec")
    // and the view still refreshes + equals the recompute
    Versioned.append(Seq((99L, "gY", 7L)).toDF("id", "g", "v"), src)
    val r = spark.sql(s"CALL graft.system.refresh_mv('$dst')").head()
    assert(r.getInt(1) < r.getInt(2))
    assert(DerivedTable.bagEqual(
      spark.sql(s"SELECT g, sum_v, cnt_v, n_rows FROM graft.`$dst`"),
      spark.sql(s"SELECT g, sum(v) AS sum_v, count(v) AS cnt_v, " +
        s"count(*) AS n_rows FROM graft.`$src` GROUP BY g")))
  }
}
